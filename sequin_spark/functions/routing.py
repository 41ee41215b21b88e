"""Routing functions — dynamic sink-coordinate computation.

Reference: lib/sequin/runtime/routing/routing.ex:19-57,105-135 — a routing
function returns a map merged over per-sink defaults, validated against a
per-sink schema (lib/sequin/runtime/routing/consumers/*.ex, 15 sinks).

Spark mapping: each routable key becomes a column (``topic``,
``message_key``, ...). The Kafka sink natively routes by the ``topic``
column; foreachBatch sinks group on the routing struct — the same
batch-key semantics as the reference's Broadway batcher
(http_push_pipeline.ex:85-90 put_batch_key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# sink_type → {routable_key: default Column factory}
# Defaults cited per reference routing/consumers/*.ex.


def _default_kafka_topic() -> Column:
    # routing/consumers/kafka.ex:27-33: "sequin.{table_schema}.{table_name}"
    return F.concat(F.lit("sequin."), F.col("table_schema"), F.lit("."), F.col("table_name"))


def _default_redis_key() -> Column:
    # routing/consumers/redis_string.ex:26-43: "sequin:{table}:{pks}"
    return F.concat(
        F.lit("sequin:"), F.col("table_name"), F.lit(":"), F.array_join(F.col("record_pks"), ":")
    )


def _default_nats_subject() -> Column:
    # routing/consumers/nats.ex: sequin.<db>.<schema>.<table>.<action>
    return F.concat(
        F.lit("sequin.postgres."),
        F.col("table_schema"),
        F.lit("."),
        F.col("table_name"),
        F.lit("."),
        F.col("action"),
    )


ROUTING_SCHEMAS: dict[str, dict[str, object]] = {
    "kafka": {"topic": _default_kafka_topic, "message_key": lambda: F.col("group_id")},
    "http_push": {
        "method": lambda: F.lit("POST"),
        "endpoint_path": lambda: F.lit(""),
        "headers": lambda: F.lit(None).cast("map<string,string>"),
    },
    "redis_string": {
        "key": _default_redis_key,
        # set on insert/update/read, del on delete (redis_string.ex:26-43)
        "redis_action": lambda: F.when(F.col("action") == "delete", F.lit("del")).otherwise(F.lit("set")),
        "expire_ms": lambda: F.lit(None).cast("long"),
    },
    "redis_stream": {"stream_key": _default_redis_key},
    "gcp_pubsub": {"topic_id": _default_kafka_topic},
    "nats": {"subject": _default_nats_subject},
    "sqs": {"queue_url": lambda: F.lit(None).cast("string")},
    "sns": {"topic_arn": lambda: F.lit(None).cast("string")},
    "kinesis": {
        "stream_arn": lambda: F.lit(None).cast("string"),
        "partition_key": lambda: F.col("group_id"),
    },
    "s2": {"stream": lambda: F.lit(None).cast("string")},
    "azure_event_hub": {"event_hub_name": lambda: F.lit(None).cast("string")},
    "rabbitmq": {
        "exchange": lambda: F.lit("sequin"),
        "routing_key": _default_nats_subject,
    },
    "typesense": {
        "collection": lambda: F.col("table_name"),
        "index_action": lambda: F.when(F.col("action") == "delete", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    },
    "meilisearch": {
        # routing/consumers/meilisearch.ex:8-13 — action ∈ {index, delete,
        # function}; filter/function/context only used when action=function
        "index_name": lambda: F.col("table_name"),
        "index_action": lambda: F.when(F.col("action") == "delete", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
        "filter": lambda: F.lit(None).cast("string"),
        "function": lambda: F.lit(None).cast("string"),
        "context": lambda: F.lit(None).cast("map<string,string>"),
    },
    "elasticsearch": {
        "index_name": lambda: F.col("table_name"),
        "index_action": lambda: F.when(F.col("action") == "delete", F.lit("delete")).otherwise(
            F.lit("index")
        ),
    },
}


# The subset of each schema's routing keys that bound ONE SINK CALL —
# the reference's Broadway batch_key (sink_pipeline.ex:371-430: the
# batcher accumulates messages per batch_key and emits one delivery per
# key).  Keys NOT listed here are per-MESSAGE attributes (kafka
# message_key, kinesis partition_key, redis key, nats subject, rabbitmq
# routing_key): the reference delivers them many-to-a-call (a Kafka
# produce set, a PutRecords page, a redis pipeline), each row carrying
# its own value — every sink here already reads them row-first with a
# batch.routing fallback.  Closing delivery chunks on per-message keys
# degenerates to ONE ROW PER SINK CALL at high group cardinality — the
# r11 chaos soak measured that at a ~700 rows/s delivery ceiling
# (100k-group load, every chunk 1 row) vs ~70k rows/s once chunks
# close on batch keys only.
BATCH_KEYS: dict[str, tuple[str, ...]] = {
    "kafka": ("topic",),
    "http_push": ("method", "endpoint_path", "headers"),
    "redis_string": (),
    "redis_stream": (),
    # gcp_pubsub's Broadway batch_key is {topic_id, ordering_key} with
    # ordering_key derived from group_id (gcp_pubsub_pipeline.ex:49,63)
    # — Pub/Sub requires one publish call per ordering key.  group_id
    # is not a routing-schema column but is always present in delivery
    # rows; batch_keys_for() callers must not intersect it away.
    "gcp_pubsub": ("topic_id", "group_id"),
    "nats": (),
    "sqs": ("queue_url",),
    "sns": ("topic_arn",),
    "kinesis": ("stream_arn",),
    "s2": ("stream",),
    "azure_event_hub": ("event_hub_name",),
    "rabbitmq": ("exchange",),
    "typesense": ("collection", "index_action"),
    "meilisearch": ("index_name", "index_action", "filter", "function",
                    "context"),
    "elasticsearch": ("index_name", "index_action"),
}

# Delivery columns that may appear in BATCH_KEYS without being routing
# -schema columns (always present in delivery rows).
ALWAYS_PRESENT_DELIVERY_COLS = ("group_id",)


def batch_keys_for(sink_type: str) -> tuple[str, ...]:
    """The Broadway batch_key tuple for a sink type.

    Single source of truth: DeliveryEngine intersects it with its
    routing columns (plus ALWAYS_PRESENT_DELIVERY_COLS) to get the
    batch_cols that close a chunk.  Unknown sink types
    (tests register ad-hoc fakes) deliberately get kafka's ("topic",)
    shape: chunks close on a topic-ish column when the rows carry one,
    else run whole-partition — the conservative many-rows-per-call
    default, never one-call-per-row.
    """
    return BATCH_KEYS.get(sink_type, BATCH_KEYS["kafka"])


def route(df: DataFrame, sink_type: str, overrides: dict[str, Column] | None = None) -> DataFrame:
    """Attach routing columns: defaults merged with user overrides
    (routing.ex:105-135 — override wins; unknown keys rejected)."""
    schema = ROUTING_SCHEMAS.get(sink_type)
    if schema is None:
        raise ValueError(f"no routing schema for sink type {sink_type!r}")
    overrides = overrides or {}
    unknown = set(overrides) - set(schema)
    if unknown:
        raise ValueError(f"routing keys {sorted(unknown)} not in {sink_type} schema {sorted(schema)}")
    out = df
    for key, default_factory in schema.items():
        col = overrides.get(key)
        if col is None:
            col = default_factory()
        out = out.withColumn(key, col)
    return out
