"""Pipeline compiler: consumer spec → operator chain → delivery.

The Spark analog of the reference's SinkPipeline assembly
(lib/sequin/runtime/sink_pipeline.ex + supervisor): each SinkConsumer
becomes one query — batch-replay (``run_batch``) and Structured
Streaming (``start_stream``) share the exact same operator chain, which
is what lets the DuckDB oracle validate streaming semantics in batch.

Operator order mirrors the reference's processor chain
(sink_pipeline.ex:184-222): source scope → action filter → column
filters → filter function → payload guard → enrichment → transform →
routing → grouped ordered delivery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sequin_spark.functions.minipy import compile_expr
from sequin_spark.functions.path import path_function
from sequin_spark.functions.routing import route
from sequin_spark.operators.column_filter import ColumnFilter, apply_column_filters
from sequin_spark.operators.payload import payload_size_guard, with_metadata
from sequin_spark.operators.source_filter import (
    Source,
    apply_action_filter,
    apply_source_filter,
    drop_internal_schemas,
)
from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.streaming.delivery import DeliveryEngine


def transform_column(spec: ConsumerSpec) -> Column:
    """The serialized payload per transform spec (transforms/message.ex):
    default → {record, changes, action, metadata}; record_only → record;
    'path:...' → path projection; anything else → MiniPy expression."""
    t = spec.transform
    if t is None or t == "default":
        return F.to_json(F.struct("record", "changes", "action", "metadata"))
    if t == "record_only":
        return F.to_json(F.col("record"))
    if t.startswith("path:"):
        return path_function(t[len("path:"):]).cast("string")
    return compile_expr(t).cast("string")


class ConsumerPipeline:
    def __init__(self, spec: ConsumerSpec, state_dir: str | None = None,
                 metrics: "ConsumerMetrics | None" = None, tracer=None):
        from sequin_spark.health import Health
        from sequin_spark.streaming.metrics import ConsumerMetrics

        # specs must arrive with named-function references already
        # resolved (ConfigRegistry.resolved_consumer) — a bare name
        # would otherwise compile as a column reference and silently
        # change semantics
        from sequin_spark.plans.spec import is_function_ref

        for fld in ("filter", "transform", "enrichment", "routing"):
            v = getattr(spec, fld, None)
            if is_function_ref(v):
                raise ValueError(
                    f"{spec.name}: {fld} references function {v!r} — "
                    "resolve it first (ConfigRegistry.resolved_consumer)")
        self.spec = spec
        self.metrics = metrics or ConsumerMetrics()
        self.health = Health(
            spec.name, expected_slugs=("messages_ingested", "messages_delivered")
        )
        self.replica = None
        self.scd2 = None
        if spec.sink_type == "scd2_history":
            # standing SCD2 audit-table consumer (create-audit-logs.mdx
            # — the destination IS a queryable validity-interval
            # table): the operator chain still applies, but delivery
            # is stateful.scd2_history_stream appending interval rows
            # to parquet, not row sinks.  Streaming-only by nature
            # (applyInPandasWithState); the batch twin is
            # queries.q_cdc_scd2_history.
            from uuid import uuid4

            cfg = dict(spec.sink_config or {})
            base = state_dir or f"/tmp/sequin_spark_state/{uuid4().hex}"
            self.scd2 = {
                "path": cfg.get("path") or f"{base}/scd2_history",
                "tombstone_ttl_ms": cfg.get("tombstone_ttl_ms"),
            }
            self.engine = None
            return
        if spec.sink_type == "parquet_replica":
            # table-maintainer consumer (replicate-tables.mdx:39,92 —
            # the destination IS a queryable table): the operator chain
            # still applies (filters/metadata), but delivery is the
            # ReplicaApplier's last-wins bucketed apply, not row sinks
            from sequin_spark.streaming.replica import ReplicaApplier

            import re
            from uuid import uuid4

            cfg = dict(spec.sink_config or {})
            # consumer names allow dashes; catalog identifiers don't
            safe = re.sub(r"[^A-Za-z0-9_]", "_", spec.name)
            # registry-resolved specs may omit state_dir — mirror
            # DeliveryEngine's tmp fallback instead of interpolating
            # None into a literal relative path
            base = state_dir or f"/tmp/sequin_spark_state/{uuid4().hex}"
            self.replica = ReplicaApplier(
                table_name=cfg.get("table_name", f"replica_{safe}"),
                path=cfg.get("path") or f"{base}/replica",
                pk_col="pk", seq_col="seq", action_col="action",
                n_buckets=int(cfg.get("n_buckets", 8)),
                compact_every=cfg.get("compact_every"),
            )
            self.engine = None
            return
        self.engine = DeliveryEngine(
            sink_type=spec.sink_type,
            sink_config=spec.sink_config,
            state_dir=state_dir,
            batch_size=spec.batch_size,
            partition_count=spec.partition_count,
            max_retry_count=spec.max_retry_count,
            routing_cols=tuple(spec.routing_keys()),
            tracer=tracer,
            consumer_id=spec.name,
        )

    # --- the operator chain (pure, streaming-safe) ------------------------
    def compile(self, events: DataFrame) -> DataFrame:
        spec = self.spec
        df = drop_internal_schemas(events)
        if spec.source is not None:
            df = apply_source_filter(df, spec.source)
        if spec.actions:
            df = apply_action_filter(df, spec.actions)
        if spec.column_filters:
            df = apply_column_filters(
                df, [ColumnFilter(**f) if isinstance(f, dict) else f for f in spec.column_filters]
            )
        if spec.filter:
            df = df.filter(compile_expr(spec.filter))
        if spec.max_payload_bytes:
            df = payload_size_guard(df, spec.max_payload_bytes)
        df = with_metadata(df, consumer_id=spec.name, consumer_name=spec.name)
        if spec.enrichment:
            # reference enrichment: user SQL keyed by `pk = ANY($1)`,
            # results land in metadata.enrichment (consumers.ex:1656+)
            from sequin_spark.operators.enrichment import enrich_from_spec

            df = enrich_from_spec(events.sparkSession, df, spec.enrichment)
            df = df.withColumn(
                "metadata",
                F.col("metadata").withField("enrichment",
                                            F.col("enrichment")),
            ).drop("enrichment")
        if not spec.message_grouping:
            # message_grouping: false → every message independent
            df = df.withColumn("group_id", F.lit(None).cast("string"))
        elif spec.group_cols:
            # group_column_attnums override (consumers.ex:730-791)
            grp = F.array(*[F.col("record").getItem(c) for c in spec.group_cols])
            df = df.withColumn("group_id", F.array_join(grp, ":"))
        df = df.withColumn("value", transform_column(spec))
        # routing function (dict literal of routing keys) merged under
        # explicit per-key overrides (routing.ex:105-135: override wins)
        routed: dict = {}
        if spec.routing and spec.routing != "none":
            from sequin_spark.plans.spec import routing_dict_sources

            routed = {k: compile_expr(v) for k, v in
                      routing_dict_sources(spec.routing).items()}
        overrides = {**routed, **{
            k: compile_expr(v)
            for k, v in (spec.routing_overrides or {}).items()}}
        df = route(df, spec.routing_schema(), overrides)
        # the delivery key, unless routing defines ``key`` itself
        # (redis_string): then the routed value is the key
        if "key" not in spec.routing_keys():
            key = F.col("message_key") if "message_key" in df.columns else F.col("group_id")
            df = df.withColumn("key", key)
        return df

    def _replica_frame(self, df: DataFrame) -> DataFrame:
        """The typed last-wins input the ReplicaApplier consumes: the
        canonical PK identity, one totally-ordered seq per event, the
        action, and the full record (replica identity full: the latest
        event carries the whole row).

        seq is the ``(commit_lsn, commit_idx)`` STRUCT, ordered
        lexicographically by Spark's native struct comparator — NOT a
        packed ``lsn*2^20 + idx`` scalar: a Postgres LSN is a
        cumulative 64-bit byte position, so the multiply would
        silently wrap int64 negative once commit_lsn ≥ 2^43 (~8 TB of
        lifetime WAL, routine on long-lived clusters) and corrupt
        last-wins ordering."""
        return df.select(
            F.array_join(F.col("record_pks"), ":").alias("pk"),
            F.struct(
                F.col("commit_lsn").cast("long").alias("commit_lsn"),
                F.col("commit_idx").cast("long").alias("commit_idx"),
            ).alias("seq"),
            F.col("action"),
            F.col("record"))

    def _scd2_frame(self, df: DataFrame) -> DataFrame:
        """The typed input scd2_history_stream consumes from the
        compiled chain: canonical PK identity, the two-column
        ``(commit_lsn, commit_idx)`` cursor (NOT packed into one int64
        — see _replica_frame's LSN-overflow note), the action, and the
        transformed payload as the tracked value."""
        return df.select(
            F.array_join(F.col("record_pks"), ":").alias("pk"),
            F.col("commit_lsn").cast("long").alias("commit_lsn"),
            F.col("commit_idx").cast("long").alias("commit_idx"),
            F.col("action"),
            F.col("value"))

    # --- execution modes --------------------------------------------------
    def run_batch(self, events: DataFrame, batch_id: int = 0) -> dict:
        if self.scd2 is not None:
            raise RuntimeError(
                "scd2_history maintains state across micro-batches "
                "(applyInPandasWithState) — drive it with start_stream; "
                "the batch-relational twin is queries.q_cdc_scd2_history")
        if self.replica is not None:
            appended = self.replica.process_batch(
                self._replica_frame(self.compile(events)), batch_id)
            return {"replica_appended": appended}
        stats = self.engine.process_batch(self.compile(events), batch_id)
        self.metrics.record_batch(self.spec.name, stats)
        self.health.observe_batch(stats)
        return stats

    def start_stream(self, events: DataFrame, checkpoint_dir: str,
                     trigger_seconds: float = 1.0):
        """One standing writeStream per consumer (reference: one Broadway
        pipeline per SinkConsumer); checkpoint commit = ack.

        Streaming enables ledger trimming (message_ledgers.ex
        trim_delivered_cursors): with checkpoint-commit=ack the replay
        window is the last uncommitted micro-batch, so identities
        delivered ≥4 batches ago can never recur and keeping them only
        grows, with stream lifetime, the identity set each delivery task
        checks."""
        if self.scd2 is not None:
            from sequin_spark.streaming.stateful import scd2_history_stream

            hist = scd2_history_stream(
                self._scd2_frame(self.compile(events)),
                pk_col="pk", seq_col="commit_lsn",
                seq2_col="commit_idx", action_col="action",
                tombstone_ttl_ms=self.scd2.get("tombstone_ttl_ms"))
            return (hist.writeStream.format("parquet")
                    .option("path", self.scd2["path"])
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(processingTime=
                             f"{int(trigger_seconds * 1000)} milliseconds")
                    .start())
        if self.replica is not None:
            return (self.replica.writer(
                        self._replica_frame(self.compile(events)))
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(processingTime=
                             f"{int(trigger_seconds * 1000)} milliseconds")
                    .start())
        if self.engine.ledger_trim_batches is None:
            self.engine.ledger_trim_batches = 4
        compiled = self.compile(events)

        def _batch(df, bid):
            stats = self.engine.process_batch(df, bid)
            self.metrics.record_batch(self.spec.name, stats)
            self.health.observe_batch(stats)

        return (
            compiled.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{int(trigger_seconds * 1000)} milliseconds")
            .start()
        )
