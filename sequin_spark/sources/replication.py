"""Postgres logical-replication socket client — the slot-producer edge.

Speaks the public PostgreSQL frontend/backend protocol (v3) plus the
streaming-replication sub-protocol, per the public documentation
(protocol.sgml §"Streaming Replication Protocol" and §"Message
Formats"):

- optional TLS via SSLRequest (ssl_mode disable/prefer/require/
  verify-full, libpq semantics),
- startup handshake with ``replication=database`` (trust / cleartext /
  md5 / SCRAM-SHA-256 auth — scram.py, RFC 5802/7677),
- simple queries over the replication connection (``IDENTIFY_SYSTEM``,
  slot-metadata lookups),
- ``START_REPLICATION SLOT … LOGICAL …`` entering copy-both mode,
- XLogData / primary-keepalive framing, and
- standby-status-update acks carrying the restart WAL cursor.

Reference parity (semantics only — the reference rides Postgrex's
protocol implementation, this is written against the public protocol
docs): sequin's SlotProducer issues the same START_REPLICATION query
(slot_producer.ex:763-769), acks the checkpoint-derived
``restart_wal_cursor`` on an interval with a monotonicity guard
(:733-758, ack frame :716-718), and folds XLogData copies through the
pgoutput decoder (:352-370 parse_copy, :384-470 handle_data).  The
Begin/Commit cursor bookkeeping lives in ``pgoutput.EventFolder``.

Spark integration: Spark has no replication-slot source, so the edge is
a tiny long-lived client (one per slot — the protocol is inherently
serial per slot) that folds frames into canonical events and appends
them as parquet files to a CDC-log directory.  The engine tails that
directory as a Structured Streaming file source opened with
EVENT_SCHEMA (``sequin serve``); everything downstream — filters,
transforms, routing, delivery — is ordinary distributed engine code.  The LSN is acked only after the
parquet file is durably written, the same checkpoint-is-ack rule the
streaming pipeline uses.
"""

from __future__ import annotations

import hashlib
import os
import socket
import struct
import time
import uuid
from dataclasses import dataclass

from sequin_spark.sources.pgoutput import EventFolder, decode

PG_EPOCH_UNIX = 946_684_800  # 2000-01-01T00:00:00Z

# Protocol version 3.0
PROTO_V3 = 196608

AUTH_OK = 0
AUTH_CLEARTEXT = 3
AUTH_MD5 = 5
AUTH_SASL = 10
AUTH_SASL_CONTINUE = 11
AUTH_SASL_FINAL = 12

SSL_REQUEST_CODE = 80877103  # public protocol: SSLRequest magic


def lsn_to_int(lsn: str) -> int:
    """'16/B374D848' → int (public pg_lsn format; Postgres.lsn_to_int)."""
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def int_to_lsn(v: int) -> str:
    return f"{v >> 32:X}/{v & 0xFFFFFFFF:X}"


def pg_clock_micros() -> int:
    """Microseconds since the Postgres epoch (2000-01-01)."""
    return int((time.time() - PG_EPOCH_UNIX) * 1_000_000)


class ReplicationError(RuntimeError):
    pass


class PayloadSizeLimitExceeded(ReplicationError):
    """A single event exceeds max_flush_bytes — the reference's
    :payload_size_limit_exceeded invariant (error.ex): retrying cannot
    succeed until the limit is raised, so the supervisor's backoff loop
    surfaces it instead of silently dropping the event."""


@dataclass
class XLogData:
    wal_start: int
    wal_end: int
    clock: int
    payload: bytes  # one pgoutput frame


@dataclass
class PrimaryKeepalive:
    wal_end: int
    clock: int
    reply_requested: bool


class ReplicationClient:
    """Frontend-protocol client for a logical replication connection.

    One instance == one socket == one slot.  Not thread-safe; drive it
    from a single ingest loop (the reference's SlotProducer is likewise
    a single GenStage process per slot).
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        database: str,
        password: str | None = None,
        connect_timeout: float = 10.0,
        receive_timeout: float = 0.5,
        replication: bool = True,
        ssl_mode: str = "disable",
        ssl_context: "object | None" = None,
    ):
        """``ssl_mode``: ``disable`` (no SSLRequest), ``prefer`` (TLS if
        the server accepts, else continue in the clear), ``require``
        (TLS or fail, no certificate verification — libpq semantics),
        ``verify-full`` (TLS + CA + hostname check).  ``ssl_context``
        overrides the default ``ssl.SSLContext`` (tests pass one trusting
        a self-signed CA).  Parity: the reference exposes the same knob
        through Postgrex connection opts
        (lib/sequin/databases/postgres_database.ex:33-51)."""
        if ssl_mode not in ("disable", "prefer", "require", "verify-full"):
            raise ValueError(f"unknown ssl_mode {ssl_mode!r}")
        self.host, self.port = host, port
        self.user, self.database, self.password = user, database, password
        self.connect_timeout = connect_timeout
        self.receive_timeout = receive_timeout
        self.replication = replication  # False → plain simple-query session
        self.ssl_mode = ssl_mode
        self.ssl_context = ssl_context
        self._sock: socket.socket | None = None
        self._buf = b""
        self.streaming = False
        self.tls_active = False
        self.last_sent_ack_lsn: int | None = None

    # --- low-level framing ------------------------------------------------

    def _send(self, data: bytes) -> None:
        assert self._sock is not None
        self._sock.sendall(data)

    def _recv_exact(self, n: int, timeout: float | None = None) -> bytes:
        assert self._sock is not None
        self._sock.settimeout(timeout if timeout is not None else self.connect_timeout)
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ReplicationError("server closed connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self, timeout: float | None = None) -> tuple[bytes, bytes]:
        """Read one backend message: (type byte, payload)."""
        head = self._recv_exact(5, timeout)
        mtype = head[:1]
        (length,) = struct.unpack(">i", head[1:5])
        payload = self._recv_exact(length - 4, timeout)
        return mtype, payload

    @staticmethod
    def _parse_error(payload: bytes) -> str:
        """ErrorResponse/NoticeResponse: (code byte, cstring)* \\0."""
        fields, off = {}, 0
        while off < len(payload) and payload[off] != 0:
            code = chr(payload[off])
            end = payload.index(b"\x00", off + 1)
            fields[code] = payload[off + 1 : end].decode()
            off = end + 1
        return fields.get("M", repr(payload))

    # --- connection -------------------------------------------------------

    def connect(self) -> None:
        """TCP connect + startup packet with ``replication=database`` —
        the parameter that turns the session into a walsender capable of
        START_REPLICATION (slot_producer.ex:191 sets the same)."""
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.connect_timeout
        )
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if self.ssl_mode != "disable":
            self._negotiate_tls()
        params = {
            "user": self.user,
            "database": self.database,
            "application_name": "sequin_spark",
        }
        if self.replication:
            params["replication"] = "database"
        body = struct.pack(">i", PROTO_V3) + b"".join(
            k.encode() + b"\x00" + v.encode() + b"\x00" for k, v in params.items()
        ) + b"\x00"
        self._send(struct.pack(">i", len(body) + 4) + body)
        self._auth_loop()

    def _negotiate_tls(self) -> None:
        """SSLRequest (len=8, magic 80877103) → single-byte 'S'/'N'
        answer → TLS-wrap the socket (public protocol §'SSL Session
        Encryption').  Must run before the startup packet."""
        assert self._sock is not None
        self._send(struct.pack(">ii", 8, SSL_REQUEST_CODE))
        answer = self._recv_exact(1)
        if answer == b"N":
            if self.ssl_mode == "prefer":
                return  # server without SSL support; continue in the clear
            raise ReplicationError(
                f"server refused SSL but ssl_mode={self.ssl_mode!r}")
        if answer != b"S":
            raise ReplicationError(f"unexpected SSLRequest answer {answer!r}")
        from sequin_spark.tlsutil import make_client_context

        # prefer/require encrypt without verification (libpq parity);
        # verify-full uses platform verification
        ctx = make_client_context(self.ssl_mode == "verify-full",
                                  self.ssl_context)
        assert not self._buf, "data buffered before TLS handshake"
        self._sock.settimeout(self.connect_timeout)
        self._sock = ctx.wrap_socket(self._sock, server_hostname=self.host)
        self.tls_active = True

    def _auth_loop(self) -> None:
        from sequin_spark.sources.scram import ScramError

        try:
            self._auth_loop_inner()
        except ScramError as e:
            # keep the supervision contract: every auth failure is a
            # ReplicationError so run_supervised's backoff-retry catches
            # it (a malformed SASL payload from a proxy mid-restart must
            # not kill the supervised loop)
            raise ReplicationError(f"SCRAM authentication failed: {e}") from e

    def _auth_loop_inner(self) -> None:
        scram = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"R":
                (code,) = struct.unpack_from(">i", payload, 0)
                if code == AUTH_OK:
                    continue
                if code == AUTH_CLEARTEXT:
                    self._send_password((self.password or "").encode())
                elif code == AUTH_MD5:
                    salt = payload[4:8]
                    inner = hashlib.md5(
                        (self.password or "").encode() + self.user.encode()
                    ).hexdigest()
                    digest = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send_password(b"md5" + digest.encode())
                elif code == AUTH_SASL:
                    from sequin_spark.sources.scram import ScramClient

                    mechs = [m.decode() for m in
                             payload[4:].split(b"\x00") if m]
                    if "SCRAM-SHA-256" not in mechs:
                        raise ReplicationError(
                            f"no supported SASL mechanism in {mechs}")
                    scram = ScramClient(password=self.password or "")
                    initial = scram.first().encode()
                    body = (b"SCRAM-SHA-256\x00"
                            + struct.pack(">i", len(initial)) + initial)
                    self._send_password(body, raw=True)
                elif code == AUTH_SASL_CONTINUE:
                    if scram is None:
                        raise ReplicationError("SASLContinue before SASL")
                    final = scram.final(payload[4:].decode())
                    self._send_password(final.encode(), raw=True)
                elif code == AUTH_SASL_FINAL:
                    if scram is None:
                        raise ReplicationError("SASLFinal before SASL")
                    scram.verify_server(payload[4:].decode())
                else:
                    raise ReplicationError(f"unsupported auth method {code}")
            elif mtype in (b"S", b"K", b"N"):
                continue  # ParameterStatus / BackendKeyData / Notice
            elif mtype == b"Z":
                return  # ReadyForQuery
            elif mtype == b"E":
                raise ReplicationError(self._parse_error(payload))
            else:
                raise ReplicationError(f"unexpected message {mtype!r} during startup")

    def _send_password(self, pw: bytes, raw: bool = False) -> None:
        """'p' frame: PasswordMessage (NUL-terminated) or, for SASL
        responses, the raw mechanism bytes (no terminator)."""
        body = pw if raw else pw + b"\x00"
        self._send(b"p" + struct.pack(">i", len(body) + 4) + body)

    def close(self) -> None:
        if self._sock is not None:
            try:
                if self.streaming:
                    # CopyDone then Terminate — best-effort clean shutdown
                    self._send(b"c" + struct.pack(">i", 4))
                self._send(b"X" + struct.pack(">i", 4))
            except OSError:
                pass
            self._sock.close()
            self._sock = None
        self.streaming = False

    # --- simple queries ---------------------------------------------------

    def simple_query(self, sql: str) -> list[tuple]:
        """'Q' simple-query cycle; returns text-format rows.  Used for
        IDENTIFY_SYSTEM and slot-metadata lookups before streaming
        (init_restart_wal_cursor, slot_producer.ex:629-659)."""
        body = sql.encode() + b"\x00"
        self._send(b"Q" + struct.pack(">i", len(body) + 4) + body)
        rows: list[tuple] = []
        error: str | None = None
        while True:
            try:
                mtype, payload = self._read_message()
            except ReplicationError:
                # connection died mid-cycle: a PENDING ErrorResponse is
                # the real failure cause (the server reported it, then
                # hung up before ReadyForQuery) — surfacing a generic
                # "server closed connection" instead would hide e.g.
                # the constraint/permission error that explains a WAL
                # insert failure (wal_pipeline_server.ex:393-442 keeps
                # the Postgrex error detail through the retry path)
                if error:
                    raise ReplicationError(error) from None
                raise
            if mtype == b"T" or mtype == b"C" or mtype == b"N":
                continue
            if mtype == b"D":
                (ncols,) = struct.unpack_from(">h", payload, 0)
                off, vals = 2, []
                for _ in range(ncols):
                    (ln,) = struct.unpack_from(">i", payload, off)
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[off : off + ln].decode())
                        off += ln
                rows.append(tuple(vals))
            elif mtype == b"E":
                error = self._parse_error(payload)
            elif mtype == b"Z":
                if error:
                    raise ReplicationError(error)
                return rows
            else:
                raise ReplicationError(f"unexpected message {mtype!r} in query cycle")

    def identify_system(self) -> dict:
        rows = self.simple_query("IDENTIFY_SYSTEM")
        systemid, timeline, xlogpos, dbname = rows[0]
        return {
            "systemid": systemid,
            "timeline": int(timeline),
            "xlogpos": xlogpos,
            "dbname": dbname,
        }

    def fetch_restart_lsn(self, slot_name: str) -> int | None:
        """The slot's restart_lsn — the reference's first-connect cursor
        seed (slot_producer.ex:629-640 runs the same query)."""
        rows = self.simple_query(
            f"select restart_lsn from pg_replication_slots where slot_name = '{slot_name}'"
        )
        if not rows or rows[0][0] is None:
            return None
        return lsn_to_int(rows[0][0])

    # --- replication stream -----------------------------------------------

    def start_replication(
        self,
        slot_name: str,
        publication: str,
        start_lsn: int = 0,
        pg_major_version: int = 14,
    ) -> None:
        """Issue START_REPLICATION and enter copy-both mode.

        Query shape matches slot_producer.ex:763-769: proto_version 1,
        publication_names, and messages 'true' on PG ≥ 14 (logical
        emitted messages carry transaction annotations).
        """
        opts = f"proto_version '1', publication_names '{publication}'"
        if pg_major_version >= 14:
            opts += ", messages 'true'"
        sql = (
            f"START_REPLICATION SLOT {slot_name} LOGICAL "
            f"{int_to_lsn(start_lsn)} ({opts})"
        )
        body = sql.encode() + b"\x00"
        self._send(b"Q" + struct.pack(">i", len(body) + 4) + body)
        while True:
            mtype, payload = self._read_message()
            if mtype == b"W":  # CopyBothResponse
                self.streaming = True
                return
            if mtype == b"E":
                raise ReplicationError(self._parse_error(payload))
            if mtype in (b"S", b"N", b"C", b"Z"):
                continue
            raise ReplicationError(f"unexpected {mtype!r} awaiting CopyBothResponse")

    def poll(self) -> XLogData | PrimaryKeepalive | None:
        """Read one replication message; None on receive timeout (lets
        the caller run its periodic ack timer, the select-loop shape of
        the reference's handle_info socket messages)."""
        assert self.streaming, "call start_replication first"
        try:
            mtype, payload = self._read_message(timeout=self.receive_timeout)
        except (TimeoutError, socket.timeout):
            return None
        if mtype == b"d":  # CopyData
            kind = payload[:1]
            if kind == b"w":
                start, end, clock = struct.unpack_from(">QQQ", payload, 1)
                return XLogData(start, end, clock, payload[25:])
            if kind == b"k":
                wal_end, clock, reply = struct.unpack_from(">QQB", payload, 1)
                return PrimaryKeepalive(wal_end, clock, reply == 1)
            raise ReplicationError(f"unknown copy payload {kind!r}")
        if mtype == b"c":  # CopyDone — server ended the stream
            self.streaming = False
            return None
        if mtype == b"E":
            raise ReplicationError(self._parse_error(payload))
        if mtype in (b"N", b"S"):
            return None
        raise ReplicationError(f"unexpected message {mtype!r} in copy-both mode")

    def send_standby_status(self, lsn: int, reply_requested: bool = False) -> None:
        """Standby-status-update: written/flushed/applied all set to the
        ack LSN, exactly the reference's ack frame
        (slot_producer.ex:716-718 ``<<?r, lsn::64, lsn::64, lsn::64,
        clock::64, 0>>``) with the monotonicity guard from send_ack
        (:733-744)."""
        if self.last_sent_ack_lsn is not None and lsn < self.last_sent_ack_lsn:
            raise ReplicationError(
                f"ack LSN went backwards ({lsn} < {self.last_sent_ack_lsn})"
            )
        inner = struct.pack(
            ">cQQQQB", b"r", lsn, lsn, lsn, pg_clock_micros(), 1 if reply_requested else 0
        )
        self._send(b"d" + struct.pack(">i", len(inner) + 4) + inner)
        self.last_sent_ack_lsn = lsn


class ReplicationIngestWorker:
    """Drives a ReplicationClient: folds XLogData frames through the
    pgoutput decoder into canonical events, appends them to a CDC-log
    directory as parquet (the Structured Streaming file source the
    engine tails), and acks the flushed LSN.

    Ack discipline (checkpoint-is-ack, slot_producer.ex:304-310
    update_restart_wal_cursor + :733-758 send_ack):

    - events are buffered per *transaction*; only fully committed
      transactions are flushed to a file, so a crash-restart replays
      whole transactions (the idempotency ledger downstream drops the
      duplicates);
    - the standby-status LSN sent to the server is the last *flushed*
      commit LSN — never an LSN whose events are still in memory;
    - a keepalive with reply_requested triggers an immediate ack at the
      flushed cursor (protocol requirement to dodge wal_sender_timeout;
      the reference handles ?k at slot_producer.ex:501-514).
    """

    def __init__(
        self,
        client: ReplicationClient,
        out_dir: str,
        flush_events: int = 10_000,
        flush_seconds: float = 1.0,
        max_flush_bytes: int | None = None,
        ack_interval: float = 5.0,
        on_relation=None,
        metrics=None,
        slot_name: str = "slot",
        heartbeat=None,
        on_health=None,
    ):
        self.client = client
        self.out_dir = out_dir
        self.flush_events = flush_events
        self.flush_seconds = flush_seconds
        self.max_flush_bytes = max_flush_bytes
        self.ack_interval = ack_interval
        self.metrics = metrics  # ConsumerMetrics-shaped (observe_ingestion_latency)
        self.slot_name = slot_name
        # optional heartbeat.HeartbeatMonitor: fed every decoded message
        # (round-trip detection) and the flushed commit cursor
        self.heartbeat = heartbeat
        # optional callback(slug, detail): worker-level health events —
        # currently toast_columns_detected (message_handler.ex:355-361,
        # an unchanged-TOAST sentinel with no pre-image to fill from)
        self.on_health = on_health
        self._toast_warned: set[str] = set()
        self.ingestion_latency_us: float | None = None
        self.folder = EventFolder(on_relation=on_relation)
        self._committed: list[dict] = []  # events of committed txns, unflushed
        self._open_txn: list[dict] = []  # events of the in-flight txn
        self.flushed_lsn = 0
        self.files_written = 0
        os.makedirs(out_dir, exist_ok=True)

    # --- event plumbing ---------------------------------------------------

    def _handle_xlog(self, x: XLogData) -> None:
        msg = decode(x.payload)
        if self.heartbeat is not None:
            self.heartbeat.on_wal_message(msg)
        in_txn_before = self.folder.in_txn
        events = self.folder.push(msg)
        if (self.heartbeat is not None
                and self.heartbeat.intercepts_table_upserts):
            # <PG14 heartbeat channel: upserts to the published
            # logical-messages table are HEARTBEATS — fold them into
            # the monitor and keep them out of the consumer stream
            # (slot_processor_server.ex:640-670)
            from sequin_spark.sources.heartbeat import (
                LOGICAL_MESSAGES_TABLE,
            )

            kept = []
            for e in events:
                if e.get("table_name") == LOGICAL_MESSAGES_TABLE:
                    self.heartbeat.on_table_heartbeat(e)
                else:
                    kept.append(e)
            events = kept
        self._open_txn.extend(events)
        if self.on_health is not None:
            for t in self.folder.toast_unfillable_tables - self._toast_warned:
                self._toast_warned.add(t)
                self.on_health("toast_columns_detected", t)
        if in_txn_before and not self.folder.in_txn:  # Commit closed the txn
            self._committed.extend(self._open_txn)
            self._open_txn = []

    def flush(self) -> str | None:
        """Write committed events to parquet; return the last file path.

        Payload-size retry discipline (postgres_replication_test.exs:992
        'retries flushing when payload size limit exceeded'): when
        ``max_flush_bytes`` is set and a batch would exceed it, the
        batch is split into size-bounded chunks and written as several
        files — the recoverable half of the reference behavior, handled
        without a disconnect.  A chunk that FAILS to write (or a single
        event that alone exceeds the limit — the case the reference's
        handler rejects) leaves every unwritten event in the buffer and
        the ack cursor unmoved, so the exception propagates to
        run_supervised, which reconnects from the flushed cursor and
        retries — the reference's disconnect/reconnect loop
        (slot_producer.ex handle payload_size_limit_exceeded →
        reconnect_interval).  Already-written chunks are NOT restored:
        whole transactions land at most once per flush attempt, and the
        idempotency ledger drops cross-restart replays."""
        if not self._committed:
            return None
        events, self._committed = self._committed, []
        chunks = self._partition_chunks(events)
        last = None
        for i, chunk in enumerate(chunks):
            try:
                if (self.max_flush_bytes is not None and len(chunk) == 1
                        and self._event_bytes(chunk[0]) > self.max_flush_bytes):
                    raise PayloadSizeLimitExceeded(
                        f"single event of ~{self._event_bytes(chunk[0])} B "
                        f"exceeds max_flush_bytes={self.max_flush_bytes}")
                last = self._write_events(chunk)
            except Exception:
                # retry-safe: the failed chunk and everything after it
                # return to the buffer; the ack cursor stays put
                self._committed = ([e for c in chunks[i:] for e in c]
                                   + self._committed)
                raise
        self.flushed_lsn = self.folder.last_commit_lsn or self.flushed_lsn
        if self.heartbeat is not None and self.flushed_lsn:
            self.heartbeat.on_flushed(self.flushed_lsn)
        return last

    def _partition_chunks(self, events: list) -> list:
        """Greedy size-bounded chunking by the serialized-payload
        estimate; one chunk (the whole batch) when no limit is set."""
        if self.max_flush_bytes is None:
            return [events]
        chunks, cur, cur_bytes = [], [], 0
        for e in events:
            b = self._event_bytes(e)
            if cur and cur_bytes + b > self.max_flush_bytes:
                chunks.append(cur)
                cur, cur_bytes = [], 0
            cur.append(e)
            cur_bytes += b
        if cur:
            chunks.append(cur)
        return chunks

    @staticmethod
    def _event_bytes(e: dict) -> int:
        """Serialized-payload size estimate (keys + values of record/
        changes + annotations + fixed metadata overhead)."""
        n = 64
        for k, v in (e.get("record") or {}).items():
            n += len(k) + (len(v) if isinstance(v, str) else 8)
        for k, v in (e.get("changes") or {}).items():
            n += len(k) + (len(v) if isinstance(v, str) else 8)
        ta = e.get("transaction_annotations")
        if ta:
            n += len(ta)
        return n

    def _write_events(self, events: list) -> str:
        """One parquet file from a list of canonical events."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {
            "action": pa.array([e["action"] for e in events], pa.string()),
            "record": pa.array(
                [list((e["record"] or {}).items()) for e in events],
                pa.map_(pa.string(), pa.string()),
            ),
            "changes": pa.array(
                [
                    None if e["changes"] is None else list(e["changes"].items())
                    for e in events
                ],
                pa.map_(pa.string(), pa.string()),
            ),
            "table_schema": pa.array([e["table_schema"] for e in events], pa.string()),
            "table_name": pa.array([e["table_name"] for e in events], pa.string()),
            "table_oid": pa.array([e["table_oid"] for e in events], pa.int64()),
            "record_pks": pa.array(
                [e["record_pks"] for e in events], pa.list_(pa.string())
            ),
            "group_id": pa.array([e["group_id"] for e in events], pa.string()),
            "commit_lsn": pa.array([e["commit_lsn"] for e in events], pa.int64()),
            "commit_idx": pa.array([e["commit_idx"] for e in events], pa.int64()),
            "commit_timestamp": pa.array(
                [e["commit_timestamp"] for e in events], pa.timestamp("us", tz="UTC")
            ),
            "idempotency_key": pa.array(
                [e["idempotency_key"] for e in events], pa.string()
            ),
            "trace_id": pa.array([e["trace_id"] for e in events], pa.string()),
            "transaction_annotations": pa.array(
                [e["transaction_annotations"] for e in events], pa.string()
            ),
        }
        table = pa.table(cols)
        # tmp-file + rename: the streaming file source must never list a
        # half-written parquet
        final = os.path.join(self.out_dir, f"wal-{uuid.uuid4().hex}.parquet")
        tmp = final + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, final)
        self.files_written += 1
        return final

    # --- main loop --------------------------------------------------------

    def run(self, max_seconds: float | None = None, stop_when=None) -> None:
        """Consume the stream until `stop_when()` is truthy or
        `max_seconds` elapses.  Single-threaded select-style loop:
        poll → fold → (flush + ack) on timers."""
        last_flush = time.monotonic()
        last_ack = time.monotonic()
        deadline = None if max_seconds is None else time.monotonic() + max_seconds
        while True:
            if stop_when is not None and stop_when():
                break
            if deadline is not None and time.monotonic() > deadline:
                break
            msg = self.client.poll()
            if isinstance(msg, (XLogData, PrimaryKeepalive)) and msg.clock:
                # ingestion latency = our clock minus the server's send
                # timestamp (prometheus.ex:334-338 observe_ingestion_latency,
                # fed from keepalive clocks in slot_producer.ex)
                self.ingestion_latency_us = float(pg_clock_micros() - msg.clock)
                if self.metrics is not None:
                    self.metrics.observe_ingestion_latency(
                        self.slot_name, self.ingestion_latency_us
                    )
            if isinstance(msg, XLogData):
                self._handle_xlog(msg)
            elif isinstance(msg, PrimaryKeepalive) and msg.reply_requested:
                self.flush()
                if self.flushed_lsn:
                    self.client.send_standby_status(self.flushed_lsn)
                last_flush = last_ack = time.monotonic()
            now = time.monotonic()
            if (
                len(self._committed) >= self.flush_events
                or (self._committed and now - last_flush >= self.flush_seconds)
            ):
                self.flush()
                last_flush = now
            if now - last_ack >= self.ack_interval:
                if self.flushed_lsn and self.flushed_lsn != self.client.last_sent_ack_lsn:
                    self.client.send_standby_status(self.flushed_lsn)
                last_ack = now
        # drain on exit
        self.flush()
        if self.flushed_lsn and self.flushed_lsn != self.client.last_sent_ack_lsn:
            try:
                self.client.send_standby_status(self.flushed_lsn)
            except OSError:
                pass


def run_supervised(
    client_factory,
    out_dir: str,
    slot_name: str,
    publication: str,
    max_seconds: float | None = None,
    stop_when=None,
    initial_backoff: float = 1.0,
    max_backoff: float = 60.0,
    healthy_reset_seconds: float = 30.0,
    on_health=None,
    pg_major_version: int = 14,
    **worker_kwargs,
) -> "ReplicationIngestWorker":
    """Supervision loop around the ingest worker — the OTP
    SlotSupervisor restart semantics (runtime/supervisor.ex: the
    SlotProducer is restarted with backoff on any exit; PG's own slot
    exclusivity is the single-writer lock, so a standby running this
    same loop simply keeps retrying until the primary's connection
    dies and the slot frees up — takeover by lease expiry).

    Each (re)connect resolves the resume point from the SERVER
    (``pg_replication_slots.restart_lsn`` — the slot tracks our last
    flushed ack, the reference's restart_wal_cursor), so no local
    cursor state is needed and a crash-restart replays only whole
    transactions past the last ack (the downstream idempotency ledger
    drops the duplicates).

    ``client_factory`` returns an UNconnected ReplicationClient;
    ``on_health(event, detail)`` receives ``replication_connected`` /
    ``replication_disconnected`` transitions (health.ex event feed).
    Backoff: exponential ``initial_backoff → max_backoff``, reset after
    ``healthy_reset_seconds`` of uninterrupted streaming.
    """
    deadline = None if max_seconds is None else time.monotonic() + max_seconds
    backoff = initial_backoff
    worker = None
    while True:
        if stop_when is not None and stop_when():
            break
        if deadline is not None and time.monotonic() > deadline:
            break
        client = client_factory()
        connected_at = None
        try:
            client.connect()
            start_lsn = client.fetch_restart_lsn(slot_name) or 0
            client.start_replication(
                slot_name, publication, start_lsn=start_lsn,
                pg_major_version=pg_major_version,
            )
            connected_at = time.monotonic()
            if on_health is not None:
                on_health("replication_connected", int_to_lsn(start_lsn))
            worker = ReplicationIngestWorker(
                client, out_dir, slot_name=slot_name, on_health=on_health,
                **worker_kwargs
            )
            remaining = None
            if deadline is not None:
                remaining = max(0.0, deadline - time.monotonic())
            # run until the stream ends (CopyDone), errors, or stops
            worker.run(
                max_seconds=remaining,
                stop_when=lambda: (
                    (stop_when is not None and stop_when())
                    or not client.streaming
                ),
            )
            if stop_when is not None and stop_when():
                break
            if deadline is not None and time.monotonic() > deadline:
                break
            raise ReplicationError("stream ended (CopyDone)")
        except (ReplicationError, OSError) as e:
            if on_health is not None:
                on_health("replication_disconnected", str(e)[:200])
            if connected_at is not None and (
                time.monotonic() - connected_at >= healthy_reset_seconds
            ):
                backoff = initial_backoff
            sleep_for = backoff
            if deadline is not None:
                sleep_for = min(sleep_for, max(0.0, deadline - time.monotonic()))
            time.sleep(sleep_for)
            backoff = min(backoff * 2, max_backoff)
        finally:
            try:
                client.close()
            except OSError:
                pass
    return worker
