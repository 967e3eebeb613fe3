"""AWS Config + Security Hub modules.

Parity map:
  * SecurityHub{id: HubArn}           — reference intel/aws/securityhub.py:43-49
  * AWSConfigurationRecorder{id}      — reference intel/aws/config.py:58-67
  * AWSConfigRule{id: ConfigRuleArn}  — reference intel/aws/config.py:136-154

All three are flat account-scoped inventories (account RESOURCE edge only);
the value here is label coverage for the reference's remaining aws modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

SECURITYHUB_SCHEMA = NodeSchema(
    label="SecurityHub",
    id=PropertyRef("hub_arn"),
    properties={
        "subscribed_at": PropertyRef("subscribed_at"),
        "auto_enable_controls": PropertyRef("auto_enable_controls"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

CONFIG_RECORDER_SCHEMA = NodeSchema(
    label="AWSConfigurationRecorder",
    id=PropertyRef("config_id"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)

CONFIG_RULE_SCHEMA = NodeSchema(
    label="AWSConfigRule",
    id=PropertyRef("config_id"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def sync_config_securityhub(
    store: GraphStore,
    hubs: DataFrame,
    config_rows: DataFrame,
    update_tag: int,
) -> None:
    load(store, "aws:securityhub", update_tag, (hubs, SECURITYHUB_SCHEMA))
    load(
        store,
        "aws:config",
        update_tag,
        (config_rows.where(F.col("kind") == "recorder"), CONFIG_RECORDER_SCHEMA),
        (config_rows.where(F.col("kind") == "rule"), CONFIG_RULE_SCHEMA),
    )
