"""HR feed: Human nodes keyed on corporate email.

Parity: the reference's Human nodes (consumed by
data/jobs/analysis/gsuite_human_link.json) originate from a people source;
here the fixture HR feed derives them deterministically.  The
human_link analysis (analysis/jobs.py) attaches identity-provider users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore

HUMAN_SCHEMA = NodeSchema(
    label="Human",
    id=PropertyRef("email"),
    properties={"email": PropertyRef("email"), "name": PropertyRef("name")},
)


def sync_humans(store: GraphStore, humans: DataFrame, update_tag: int) -> None:
    load(store, "hr:humans", update_tag, (humans, HUMAN_SCHEMA))
