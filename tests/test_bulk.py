"""Guards for the bulk builder's dedupe=False contract (r6).

build_graph compiles its node families with ``dedupe=False`` — valid only
while every family id stays an injective formula over a distinct source key.
If a fixture change ever breaks that, these tests fail before the store's
MERGE semantics silently change.
"""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_bulk_family_ids_unique(spark, monkeypatch):
    """Every node family build_graph compiles with dedupe=False — the
    fixture families, the foreign-account stubs and Document — holds unique
    values in the column its schema's id PropertyRef names."""
    from cartography_spark.core import loader
    from cartography_spark.kg import bulk, materialize

    families = []

    def recording(batch, schema, update_tag, kwargs=None, dedupe=True):
        if not dedupe:
            families.append((batch, schema))
        return loader.compile_nodes(batch, schema, update_tag, kwargs, dedupe)

    monkeypatch.setattr(bulk, "compile_nodes", recording)
    monkeypatch.setattr(materialize, "compile_nodes", recording)
    bulk.build_graph(spark, SF_DIR, 123456789)

    labels = [schema.label for _, schema in families]
    assert "Document" in labels and labels.count("AWSAccount") == 2  # fixture + stubs
    bad = []
    for batch, schema in families:
        idc = schema.id.source
        n, d = batch.agg(F.count(idc), F.count_distinct(idc)).first()
        if n != d:
            bad.append((schema.label, idc, n, d))
    assert not bad, f"bulk families with duplicate ids (dedupe=False unsafe): {bad}"


def test_build_graph_nodes_have_unique_keys(spark):
    from cartography_spark.kg.bulk import build_graph

    nodes, _ = build_graph(spark, SF_DIR, 123456789)
    total = nodes.count()
    distinct = nodes.select("label", "id").distinct().count()
    assert total == distinct
