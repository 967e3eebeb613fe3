"""IAM policy evaluation: the engine's grant join against the reference's
regex truth table, and the permission-mapping stages on both store kinds.

The oracle below is the reference's per-pair evaluation
(cartography/intel/aws/permission_relationships.py:21-130, 199-225): an IAM
wildcard compiles to an anchored case-insensitive regex, a statement counts
only when one of its actions matches the permission, and a matching Deny
beats any Allow.  Newlines and non-ASCII case folding are outside the
property (Python's ``$`` and ``re.IGNORECASE`` differ from SQL LIKE and
``lower()`` there), so the alphabets are ASCII without newlines.
"""

import json
import re

import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cartography_spark.modules.permissions import evaluate_permissions, sts_assumerole_pairs
from tests.util import check_rels

T1 = 111111111


def _compiled(pattern):
    return re.compile(
        "^" + re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".") + "$", re.IGNORECASE
    )


def _matches(patterns, value):
    return any(_compiled(p).match(value) for p in patterns or [])


def _decide(stmts, arn, perm):
    relevant = [s for s in stmts if _matches(s["action"], perm)]
    allow = any(_matches(s["resource"], arn) for s in relevant if s["effect"] != "Deny")
    return allow and not any(
        _matches(s["resource"], arn) for s in relevant if s["effect"] == "Deny"
    )


ACCTS = ["111111111111", "222222222222"]
# values (ARN and permission suffixes) and patterns share the LIKE and
# regex metacharacters, so literal %, _ and \ must stay literal on both
# sides; their letters differ in case, so every letter match folds case
VALUE = "aB%_\\"
PATTERN = "Ab%_\\**?"


def _df(spark, rows, schema):
    # the rows travel as one JSON literal: createDataFrame would make a
    # Python RDD that runs Python tasks on every read of the frame
    struct = T.StructType.fromDDL(schema)
    js = json.dumps([dict(zip(struct.names, r)) for r in rows])
    return spark.range(1).select(F.inline(F.from_json(F.lit(js), T.ArrayType(struct))))


def _text(alphabet, min_size=0, max_size=2):
    # lists of sampled characters, not st.text: st.text caches a Unicode
    # table under .hypothesis/ in the working directory
    return st.lists(st.sampled_from(alphabet), min_size=min_size, max_size=max_size).map("".join)


_pattern = st.builds(
    str.__add__,
    st.sampled_from(
        ["*", "arn:aws:s3:::", "ARN:AWS:S3:::", "arn:aws:iam::*:role/",
         f"arn:aws:iam::{ACCTS[0]}:role/", "arn:aws:iam::*"]
    ),
    _text(PATTERN),
)
_action = st.one_of(
    st.sampled_from(
        ["*", "sts:AssumeRole", "STS:ASSUMEROLE", "sts:assume?ole", "STS:*role", "sts:Assume_Role"]
    ),
    st.builds(str.__add__, st.sampled_from(["S3:", "s3:", "sqs:", "*"]), _text(PATTERN, max_size=1)),
)
_statement = st.fixed_dictionaries(
    {
        "effect": st.sampled_from(["Allow", "Deny", "deny", None]),
        "action": st.one_of(st.none(), st.lists(_action, min_size=1, max_size=3)),
        "resource": st.one_of(st.none(), st.lists(_pattern, min_size=1, max_size=3)),
    }
)


@st.composite
def _worlds(draw):
    principals = [
        f"arn:aws:iam::{acct}:role/{name}"
        for acct, name in draw(
            st.lists(
                st.tuples(st.sampled_from(ACCTS), _text(VALUE, min_size=1)),
                min_size=30, max_size=50, unique=True,
            )
        )
    ]
    # policy ids come from a pool smaller than the attachments, so principals
    # hold several policies and some policies are shared
    pool = [f"p{i}" for i in range(len(principals))]
    policies = draw(
        st.lists(st.tuples(st.sampled_from(pool), st.sampled_from(principals)),
                 min_size=len(principals), max_size=3 * len(principals), unique=True)
    )
    statements = [
        {"policy_id": pid, **s}
        for pid in pool
        for s in draw(st.lists(_statement, min_size=1, max_size=3))
    ]
    # Deny (or "deny", which allows) copies of some statements, each under a
    # random policy, so both meet an Allow on the same resources within and
    # across policies
    statements += [
        {**s, "policy_id": pid, "effect": effect}
        for s, pid, effect in draw(
            st.lists(
                st.tuples(st.sampled_from(statements), st.sampled_from(pool),
                          st.sampled_from(["Deny", "deny"])),
                min_size=len(pool) // 2, max_size=len(pool),
            )
        )
    ]
    resources = draw(
        st.lists(
            st.builds(str.__add__, st.sampled_from(["arn:aws:s3:::", "arn:aws:sqs:us-east-1::"]),
                      _text(VALUE)),
            min_size=10, max_size=25, unique=True,
        )
    )
    trusted = [f"arn:aws:iam::{a}:root" for a in ACCTS + ["333333333333"]]
    trusts = draw(
        st.lists(
            st.tuples(st.sampled_from(principals),
                      st.sampled_from(trusted + [f"arn:aws:iam::{ACCTS[0]}:user/u"])),
            min_size=len(principals) // 2, max_size=len(principals),
        )
    )
    permission = "s3:" + draw(_text(VALUE, min_size=1))
    return principals, policies, statements, resources, trusts, permission


@settings(
    max_examples=3,
    phases=[Phase.explicit, Phase.generate],
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.data_too_large, HealthCheck.large_base_example
    ],
)
@given(world=_worlds())
def test_grants_match_regex_oracle(spark, world):
    principals, policies, statements, resources, trusts, permission = world
    stmts_of = {p: [] for p in principals}
    for pid, principal in policies:
        stmts_of[principal] += [s for s in statements if s["policy_id"] == pid]

    policies_df = _df(spark, policies, "policy_id string, principal_arn string")
    statements_df = _df(
        spark,
        [(s["policy_id"], s["effect"], s["action"], s["resource"]) for s in statements],
        "policy_id string, effect string, action array<string>, resource array<string>",
    )

    got = evaluate_permissions(
        policies_df, statements_df, _df(spark, [(r,) for r in resources], "arn string"),
        permission,
    ).collect()
    service = permission.split(":")[0]
    want = {
        (p, r)
        for p in principals
        for r in resources
        if r.split(":")[2] == service and _decide(stmts_of[p], r, permission)
    }
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want

    got = sts_assumerole_pairs(
        _df(spark, trusts, "role_arn string, trusted string"),
        _df(spark, [(p, p.split(":")[4]) for p in principals], "principal_arn string, acct string"),
        policies_df,
        statements_df,
    ).collect()
    roots = {(role, t.split(":")[4]) for role, t in trusts if t.endswith(":root")}
    want = {
        (p, role)
        for p in principals
        for role, acct in roots
        if acct == p.split(":")[4] and role != p and _decide(stmts_of[p], role, "sts:AssumeRole")
    }
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want


@pytest.mark.parametrize("buffered", [False, True])
def test_mapping_stage_writes_every_permission(spark, store, buffered):
    """A mapping grants its relationship when ANY of its permissions is
    allowed, and mappings sharing a relationship name write one stage: on a
    plain store the stage's first commit must not hide the rest."""
    from cartography_spark.core.loader import load
    from cartography_spark.core.model import NodeSchema, PropertyRef
    from cartography_spark.core.store import BufferedSyncStore
    from cartography_spark.modules.permissions import sync_permission_mappings

    r1, r2 = "arn:aws:iam::111111111111:role/r1", "arn:aws:iam::111111111111:role/r2"
    queue, bucket = "arn:aws:sqs:us-east-1:111111111111:q1", "arn:aws:s3:::b1"
    policies = _df(spark, [("p1", r1), ("p2", r2)], "policy_id string, principal_arn string")
    statements = _df(
        spark,
        [
            ("p1", "Allow", ["sqs:SendMessage", "s3:GetObject"], ["*"]),
            # r2: Allow on one permission of the mapping, Deny on the other
            ("p2", "Allow", ["sqs:ReceiveMessage"], [queue]),
            ("p2", "Deny", ["sqs:SendMessage"], [queue]),
        ],
        "policy_id string, effect string, action array<string>, resource array<string>",
    )
    st_ = BufferedSyncStore(store) if buffered else store
    load(
        st_, "seed", T1,
        (_df(spark, [(queue,)], "arn string"), NodeSchema("SQSQueue", PropertyRef("arn"))),
        (_df(spark, [(bucket,)], "arn string"), NodeSchema("S3Bucket", PropertyRef("arn"))),
    )
    sync_permission_mappings(
        st_, policies, statements, T1,
        [
            {"permissions": ["sqs:ReceiveMessage", "sqs:SendMessage"],
             "target_label": "SQSQueue", "relationship_name": "CAN_USE"},
            {"permissions": ["s3:GetObject"], "target_label": "S3Bucket",
             "relationship_name": "CAN_USE"},
        ],
    )
    if buffered:
        st_.flush()

    assert check_rels(store, "AWSPrincipal", "CAN_USE", "SQSQueue") == {(r1, queue), (r2, queue)}
    assert check_rels(store, "AWSPrincipal", "CAN_USE", "S3Bucket") == {(r1, bucket)}
    assert store.stage_done("aws:permissions:CAN_USE", T1)
