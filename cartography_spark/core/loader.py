"""Schema -> DataFrame compiler: the engine's ingestion core.

This is the Spark-first restatement of the reference's ingestion query
builder (reference: cartography/graph/querybuilder.py:349-401 builds one
Cypher ``UNWIND $DictList MERGE`` text; reference: cartography/client/core/tx.py:194-215
executes it in 10k-row batches).  Here there is no query text and no row
batching: a NodeSchema compiles to a *projection* producing canonical node
rows and one *equi-join per declared relationship* producing canonical edge
rows; Catalyst plans the physical execution, and the snapshot store applies
MERGE semantics set-wise.  These are the engine's only row templates: every
node row comes from :func:`compile_nodes`, every edge row from
:func:`compile_edges` or :func:`edge_rows`, and each stamps the label set the
write-behind buffer prunes by.

Canonical long-table layouts (one unioned table each, partitioned by label —
the Spark analog of Neo4j labels + per-key indexes):

  nodes: id string, label string, props map<string,string>,
         extra_labels array<string>, firstseen long, lastupdated long
  edges: src_id string, src_label string, rel_label string,
         dst_id string, dst_label string, props map<string,string>,
         firstseen long, lastupdated long

Property values are stringified (lists/structs JSON-encoded) — the reference
graph is dynamically typed (SURVEY.md §1.2), and a map column keeps the long
table schema-stable while remaining filterable via ``element_at``.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cartography_spark.core.model import LinkDirection, NodeSchema, PropertyRef, RelSchema

NODE_COLUMNS = ["id", "label", "props", "extra_labels", "firstseen", "lastupdated"]
EDGE_COLUMNS = [
    "src_id",
    "src_label",
    "rel_label",
    "dst_id",
    "dst_label",
    "props",
    "firstseen",
    "lastupdated",
]

# The edge MERGE key (the store keys edges the same way).
EDGE_KEY = ["src_id", "rel_label", "dst_id"]

NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("extra_labels", T.ArrayType(T.StringType()), True),
        T.StructField("firstseen", T.LongType(), True),
        T.StructField("lastupdated", T.LongType(), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src_id", T.StringType(), False),
        T.StructField("src_label", T.StringType(), False),
        T.StructField("rel_label", T.StringType(), False),
        T.StructField("dst_id", T.StringType(), False),
        T.StructField("dst_label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("firstseen", T.LongType(), True),
        T.StructField("lastupdated", T.LongType(), False),
    ]
)


# The unified pyspark.sql.DataFrame is a constructor-dispatching facade in
# Spark 4 (its __new__ builds a classic instance directly), so the label-
# carrying subclass must extend the classic implementation and bypass that
# dispatch with its own __new__.
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame


class LabeledFrame(_ClassicDataFrame):
    """DataFrame that carries the (statically known) set of node labels or
    rel labels its rows can contain — the compiler knows them because every
    compiled family stamps a literal label column (node ``label`` from
    :func:`compile_nodes`, ``rel_label`` from :func:`edge_rows`).

    The write-behind :class:`~cartography_spark.core.store.BufferedSyncStore`
    uses this to prune its read views: a read for labels L only has to fold
    the buffered batches whose label sets intersect L (node keys are
    (label, id) and edge keys include rel_label, so batches with disjoint
    label sets can never share a MERGE key).  ``unionByName`` propagates the
    union of both sides' label sets; any other transformation returns a plain
    DataFrame, which the buffer treats conservatively as "could contain any
    label" — still exact, just unpruned.
    """

    def __new__(cls, df: DataFrame, labels: Iterable[str]):
        return object.__new__(cls)

    def __init__(self, df: DataFrame, labels: Iterable[str]):
        _ClassicDataFrame.__init__(self, df._jdf, df.sparkSession)
        self.cartography_labels = frozenset(labels)

    def unionByName(self, other: DataFrame, allowMissingColumns: bool = False) -> DataFrame:
        out = super().unionByName(other, allowMissingColumns)
        other_labels = getattr(other, "cartography_labels", None)
        if other_labels is None:
            return out
        return LabeledFrame(out, self.cartography_labels | other_labels)


def live_view(store, *extra: DataFrame):
    """Label-pruned view of (store nodes ∪ not-yet-upserted batches).

    Modules that compile edges against targets including their OWN pending
    node batch (self-joins like SQS DLQ, KMS alias->key) pass this instead of
    a concrete ``store.nodes().unionByName(batch)`` frame so the per-target
    label pruning still happens: the store read prunes to the requested
    slices/buffer entries, and each extra batch is either statically pruned
    away (its label set misses) or appended.
    """

    def view(labels=None):
        out = store.nodes(labels=labels)
        for df in extra:
            if labels is not None:
                known = getattr(df, "cartography_labels", None)
                if known is not None and not (known & set(labels)):
                    continue
                df = df.where(F.col("label").isin(list(labels)))
            out = out.unionByName(df)
        return out

    return view


def _q(name: str) -> str:
    """Backtick-quote a column name for a SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v) -> str:
    """Render a Python value as a SQL STRING literal (None -> typed NULL)."""
    if v is None:
        return "CAST(NULL AS STRING)"
    if isinstance(v, bool):
        return "'true'" if v else "'false'"
    if isinstance(v, (int, float)):
        return f"CAST({v!r} AS STRING)"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _stringify(df: DataFrame, col: str, prefix: str = "") -> str:
    """SQL expression rendering an input column as a string graph property.

    Complex types are JSON-encoded (the reference JSON-encodes Condition
    blobs the same way, intel/aws/iam.py:556-557); scalars are cast.

    The compilers build expression STRINGS and apply them with one
    ``selectExpr`` per projection: plan construction is then a handful of
    py4j round trips per schema instead of one per Column object, which on a
    driver-latency-bound host is the difference between ~0.16 s and ~0.01 s
    per compiled schema (measured; the sync loop compiles dozens).
    """
    dtype = df.schema[col].dataType
    ref = (prefix + "." if prefix else "") + _q(col)
    if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
        return f"to_json({ref})"
    if isinstance(dtype, T.StringType):
        return ref
    return f"CAST({ref} AS STRING)"


def _ref_col(df: DataFrame, ref: PropertyRef, kwargs: Mapping[str, object], prefix: str = "") -> str:
    """Resolve a PropertyRef to a SQL expression string against the batch
    (column reference) or run kwargs (literal)."""
    if ref.set_in_kwargs:
        if ref.source not in kwargs:
            raise KeyError(f"PropertyRef kwarg '{ref.source}' missing from run kwargs")
        return _sql_lit(kwargs[ref.source])
    return _stringify(df, ref.source, prefix)


def compile_nodes(
    batch: DataFrame,
    schema: NodeSchema,
    update_tag: int,
    kwargs: Mapping[str, object] | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """Project an input batch into canonical node rows for one label.

    Semantics of the reference's node MERGE (querybuilder.py:372-401):
      * id from the schema's id ref;
      * duplicate ids inside one batch collapse to a single row via a
        deterministic content-hash window (see inline note — Spark batches
        are unordered, so sequential last-write-wins has no analog);
      * ``lastupdated`` stamped with the run tag; ``firstseen`` left NULL —
        the store resolves it to ``coalesce(existing.firstseen, tag)`` at
        commit time, reproducing ``ON CREATE SET firstseen``.
    """
    kwargs = kwargs or {}
    prop_map = _props_expr(batch, schema.properties, kwargs)
    extra = (
        "array(" + ", ".join(_sql_lit(x) for x in schema.extra_labels) + ")"
        if schema.extra_labels
        else "CAST(NULL AS ARRAY<STRING>)"
    )

    out = batch.selectExpr(
        f"{_ref_col(batch, schema.id, kwargs)} AS id",
        f"{_sql_lit(schema.label)} AS label",
        f"{prop_map} AS props",
        f"{extra} AS extra_labels",
        "CAST(NULL AS BIGINT) AS firstseen",
        f"CAST({int(update_tag)} AS BIGINT) AS lastupdated",
    ).where("id IS NOT NULL")

    # Intra-batch duplicate-id collapse (A5 in SURVEY.md §2.4).  NOTE on
    # semantics: the reference applies MERGE rows sequentially, so its winner
    # is the batch's last row; a distributed batch has no row order, so the
    # winner here is selected by a deterministic content hash — stable across
    # re-runs and partitionings, but NOT "last" in any input sense.  When
    # duplicate ids carry different props the surviving props may differ from
    # the reference's; callers that care must dedupe upstream.
    # ``dedupe=False`` skips the window (one shuffle + a to_json/xxhash
    # codegen span per family) for batches whose ids are unique by
    # construction — the caller asserts uniqueness, exactly like a MERGE on
    # a unique-constrained key.
    if not dedupe:
        return LabeledFrame(out, [schema.label])
    # A prop-less schema's duplicate rows are identical, so any one may win.
    # Hashing its constant NULL props would also be constant-folded on the
    # driver, where the concurrent node and edge writes of one commit, whose
    # plans share this expression, race on one to_json evaluator.
    order = "xxhash64(to_json(struct(props)))" if schema.properties else "id"
    return LabeledFrame(
        out.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY id ORDER BY {order} DESC) AS _rn",
        )
        .where("_rn = 1")
        .drop("_rn"),
        [schema.label],
    )


def _props_expr(batch: DataFrame, props: Mapping[str, PropertyRef], kwargs, prefix: str = "") -> str:
    """map<string,string> expression for a property bag, nulls dropped."""
    if not props:
        return "CAST(NULL AS MAP<STRING,STRING>)"
    keys = ", ".join(_sql_lit(n) for n in props)
    vals = ", ".join(_ref_col(batch, r, kwargs, prefix) for r in props.values())
    return (
        f"map_filter(map_from_arrays(array({keys}), array({vals})),"
        " (k, v) -> v IS NOT NULL)"
    )


def _matcher_condition(
    batch: DataFrame,
    rel: RelSchema,
    kwargs: Mapping[str, object],
) -> str:
    """Equi-join condition (SQL string) batch x target-nodes for one RelSchema.

    Target attribute ``id`` matches the node id column; any other attribute
    matches ``props[attr]``.  ``ignore_case`` lowers both sides (reference:
    querybuilder.py:112-131 pushes toLower into the match the same way).
    Sides are addressed through the ``__b`` (batch) / ``__t`` (targets)
    dataset aliases so name collisions between batch and node columns stay
    unambiguous.
    """
    conds = []
    for attr, ref in rel.matcher.keys.items():
        left = _ref_col(batch, ref, kwargs, prefix="__b")
        right = "__t.id" if attr == "id" else f"element_at(__t.props, {_sql_lit(attr)})"
        if ref.ignore_case:
            left, right = f"lower({left})", f"lower({right})"
        conds.append(f"({left} = {right})")
    return " AND ".join(conds)


def compile_edges(
    batch: DataFrame,
    schema: NodeSchema,
    existing_nodes,
    update_tag: int,
    kwargs: Mapping[str, object] | None = None,
    broadcast_targets: bool = True,
    selected_relationships: "set | frozenset | tuple | list | None" = None,
) -> DataFrame | None:
    """Produce canonical edge rows for every relationship a schema declares.

    One inner equi-join per RelSchema against the *current* node table for
    the target label (reference runs an OPTIONAL MATCH then drops nulls,
    querybuilder.py:153-256 — net effect is an inner join).  Each join's
    result is unioned (the reference wraps each rel in ``CALL {} UNION``,
    querybuilder.py:259-291, for exactly this independence).

    ``selected_relationships`` loads a SUBSET of the declared rels (partial
    syncs): pass RelSchema objects and/or rel_label strings.  Selecting a
    relationship the schema does not declare raises, and the sub-resource
    rel stays selectable — both mirroring reference
    querybuilder.py:307-346 (_filter_selected_relationships).

    Scale: target id spaces are dimension-sized (accounts, orgs, groups) —
    broadcast by default; for genuinely large targets pass
    ``broadcast_targets=False`` and let AQE pick the strategy.

    ``existing_nodes`` is either a concrete node frame or a callable
    ``labels -> DataFrame`` (e.g. ``store.nodes`` bound method, or
    :func:`live_view`).  Callables are preferred: each relationship then
    pulls ONLY its target label's slice — committed reads prune to one
    label directory, and the buffered store's read view folds only the
    batches that can contain that label instead of the whole write-behind
    buffer.
    """
    kwargs = kwargs or {}
    rels = schema.all_rels()
    if selected_relationships is not None:
        wanted = {
            r.rel_label if isinstance(r, RelSchema) else str(r)
            for r in selected_relationships
        }
        declared = {r.rel_label for r in rels}
        unknown = wanted - declared
        if unknown:
            raise ValueError(
                f"selected_relationships {sorted(unknown)} not declared on "
                f"'{schema.label}' (declared: {sorted(declared)}); reference "
                "querybuilder.py:323-339 raises the same"
            )
        rels = tuple(r for r in rels if r.rel_label in wanted)
    if not rels:
        return None

    pieces: list[DataFrame] = []
    for rel in rels:
        source = (
            existing_nodes(labels=[rel.target_label])
            if callable(existing_nodes)
            else existing_nodes
        )
        targets = source.where(
            f"label = {_sql_lit(rel.target_label)}"
        ).select("id", "label", "props")
        if broadcast_targets:
            targets = F.broadcast(targets)
        cond = _matcher_condition(batch, rel, kwargs)
        joined = batch.alias("__b").join(targets.alias("__t"), F.expr(cond), "inner")

        declaring_id = _ref_col(batch, schema.id, kwargs, prefix="__b")
        if rel.direction == LinkDirection.OUTWARD:
            src_id, src_label = declaring_id, schema.label
            dst_id, dst_label = "__t.id", rel.target_label
        else:
            src_id, src_label = "__t.id", rel.target_label
            dst_id, dst_label = declaring_id, schema.label

        rel_props = _props_expr(batch, rel.properties, kwargs, prefix="__b")

        pieces.append(
            edge_rows(
                joined, src_id, src_label, rel.rel_label, dst_id, dst_label, update_tag,
                props=rel_props, dedupe=False,
            )
        )

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return LabeledFrame(out.dropDuplicates(EDGE_KEY), out.cartography_labels)


def edge_rows(
    df: DataFrame,
    src_id: str,
    src_label: str | None,
    rel_label: str,
    dst_id: str,
    dst_label: str | None,
    tag: int,
    props: str | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """Project ``df`` into canonical edge rows of one rel family — the only
    edge row template besides :func:`compile_edges`, which builds on it.

    ``src_id``/``dst_id`` are SQL expressions over ``df`` (usually column
    names).  A label is a literal name; ``None`` keeps ``df``'s own
    ``src_label``/``dst_label`` column, for endpoints whose label depends on
    the data (a policy's principal, a trust target, a tagged resource, a
    mention's canonical entity).  ``props`` is a ``map<string,string>`` SQL
    expression (NULL when omitted).  ``lastupdated`` is stamped with the tag
    and ``firstseen`` left NULL for the store's MERGE, as in
    :func:`compile_nodes`.

    ``dedupe`` collapses rows sharing the edge MERGE key; pass False when the
    pairs are distinct by construction or a later step dedupes the union.
    The result carries ``{rel_label}`` as its label set, which the
    write-behind buffer prunes its read views by.
    """
    out = df.selectExpr(
        f"{src_id} AS src_id",
        "src_label" if src_label is None else f"{_sql_lit(src_label)} AS src_label",
        f"{_sql_lit(rel_label)} AS rel_label",
        f"{dst_id} AS dst_id",
        "dst_label" if dst_label is None else f"{_sql_lit(dst_label)} AS dst_label",
        f"{props or 'CAST(NULL AS MAP<STRING,STRING>)'} AS props",
        "CAST(NULL AS BIGINT) AS firstseen",
        f"CAST({int(tag)} AS BIGINT) AS lastupdated",
    )
    return LabeledFrame(out.dropDuplicates(EDGE_KEY) if dedupe else out, [rel_label])


def empty_edges(spark) -> DataFrame:
    return spark.createDataFrame([], EDGES_SCHEMA)


def load(store, stage: str, update_tag: int, *pairs) -> None:
    """Load one module stage: every ``(batch, schema)`` pair's nodes, then
    every rel each schema declares, MERGEd in one upsert under ``stage``.

    The reference loads each schema the same way (client/core/tx.py:237-254:
    MERGE the batch's nodes, then each declared rel).  Rels match against
    the store plus this stage's own nodes (:func:`live_view`), so a pair may
    target another pair's label.  A stage already checkpointed under
    ``update_tag`` returns before compiling anything.
    """
    if store.stage_done(stage, update_tag):
        return
    nodes = [compile_nodes(batch, schema, update_tag) for batch, schema in pairs]
    view = live_view(store, *nodes)
    edges = [
        e
        for batch, schema in pairs
        if (e := compile_edges(batch, schema, view, update_tag)) is not None
    ]
    store.upsert(_union(nodes), _union(edges), stage, update_tag)


def _union(dfs: list) -> DataFrame | None:
    """``unionByName`` of the frames (keeping a LabeledFrame's label set);
    None for no frames."""
    return reduce(lambda a, b: a.unionByName(b), dfs) if dfs else None
