"""ARN parsing as native columns.

Parity: the reference parses ARNs in per-row Python —
`get_account_from_arn` (cartography/intel/aws/iam.py:832-838) and the
per-type short-id extractors `get_short_id_from_ec2_arn` /
`get_short_id_from_elb_arn` / bucket-name passthrough
(cartography/intel/aws/resourcegroupstaggingapi.py:18-56).  Here each is a
``regexp_extract``/``split`` expression that stays inside whole-stage
codegen — zero Python in the 10^12-row path.

ARN grammar: arn:partition:service:region:account-id:resource
(resource may be "type/id", "type:id", or a bare name).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# F.get (not getItem/element_at): out-of-range yields NULL instead of the
# ANSI INVALID_ARRAY_INDEX error.  These run inside plans where Catalyst may
# reorder the extraction before a label filter, so non-ARN ids (okta ids,
# doc ids) must degrade to NULL, never throw.

def arn_service(col) -> Column:
    return F.get(F.split(col, ":"), 2)


def arn_region(col) -> Column:
    return F.get(F.split(col, ":"), 3)


def arn_account(col) -> Column:
    """12-digit account id, or '' when the ARN carries none (e.g. s3)."""
    return F.regexp_extract(col, r"^arn:[^:]*:[^:]*:[^:]*:(\d{12}):", 1)


def arn_resource(col) -> Column:
    """Everything after the 5th colon (may itself contain / or :)."""
    return F.regexp_extract(col, r"^arn:[^:]*:[^:]*:[^:]*:[^:]*:(.*)$", 1)


def short_id(col) -> Column:
    """Last path segment of the resource part — the reference's per-type
    "short id" (instance/cluster/volume ids, ELB names, bucket names)."""
    return F.element_at(F.split(arn_resource(col), "[/:]"), -1)


def is_service_principal(col) -> Column:
    """Service principals ('ec2.amazonaws.com') vs ARN principals."""
    return ~col.startswith("arn:")
