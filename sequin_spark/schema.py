"""Canonical change-event schema.

Mirrors the reference's per-consumer event payload field-for-field
(reference: lib/sequin/consumers/consumer_event_data.ex:19-58 and
lib/sequin/runtime/message.ex:14-45) so transform outputs can hash-match
the reference payload JSON:

- ``action`` ∈ {insert, update, delete, read}
- ``record``: map<string,string> of column → stringified value (the
  reference flows rows as per-row field lists; a map column keeps the
  engine schema-free while staying columnar in Tungsten)
- ``changes``: old values of changed columns (update only), else null
- ``table_schema`` / ``table_name`` / ``table_oid``
- ``record_pks``: stringified PK values sorted by attnum
  (lib/sequin/consumers/consumer_event.ex:94-109)
- ``group_id``: ordering unit = join(record_pks, ":") by default
  (lib/sequin/consumers/consumers.ex:730-791)
- ``commit_lsn`` / ``commit_idx``: total order within a slot
  (lib/sequin/runtime/slot_producer/slot_producer.ex:384-420)
- ``idempotency_key`` = base64("{lsn}:{idx}")
  (lib/sequin/runtime/slot_producer/processor.ex:176,207,239)
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ACTIONS = ("insert", "update", "delete", "read")

EVENT_SCHEMA = StructType(
    [
        StructField("action", StringType(), False),
        StructField("record", MapType(StringType(), StringType()), True),
        StructField("changes", MapType(StringType(), StringType()), True),
        StructField("table_schema", StringType(), False),
        StructField("table_name", StringType(), False),
        StructField("table_oid", LongType(), False),
        StructField("record_pks", ArrayType(StringType()), True),
        StructField("group_id", StringType(), True),
        StructField("commit_lsn", LongType(), False),
        StructField("commit_idx", LongType(), False),
        StructField("commit_timestamp", TimestampType(), True),
        StructField("idempotency_key", StringType(), True),
        StructField("trace_id", StringType(), True),
        StructField("transaction_annotations", StringType(), True),
    ]
)

EVENT_COLUMNS = [f.name for f in EVENT_SCHEMA.fields]


def idempotency_key(lsn: F.Column, idx: F.Column) -> F.Column:
    """base64("{commit_lsn}:{commit_idx}") — reference processor.ex:176."""
    return F.base64(F.concat(lsn.cast("string"), F.lit(":"), idx.cast("string")).cast("binary"))


def group_id_from_pks(record_pks: F.Column) -> F.Column:
    """join(record_pks, ":") — reference consumers.ex:730-791.

    Null/empty PK list → null group (delivered independently,
    slot_message_store_state.ex:432-478).
    """
    return F.when(F.size(record_pks) > 0, F.array_join(record_pks, ":"))
