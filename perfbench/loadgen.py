"""Load process: seeded pgoutput generator behind a fake walsender, plus
a single-threaded HTTP receiver.  Two threads in all.

The walsender thread speaks the protocol subset ``ReplicationClient``
and ``run_supervised`` use: startup + cleartext password auth, simple
queries (``IDENTIFY_SYSTEM``, the slot ``restart_lsn`` lookup),
``START_REPLICATION`` → CopyBothResponse, XLogData frames, primary
keepalives, and standby-status receipts (recorded as acks).

Modes:

* ``open``: after ``/_ctl/go``, transactions are due on a fixed
  schedule (``FANOUT_RATE`` events/s for ``--seconds``) whatever the
  system under test does; each commit timestamp is the due time, and
  lateness (send time minus due time) is recorded.  ``/_ctl/warm``
  sends a few transactions ahead of the measured load.
* ``receiver``: no walsender (the backfill workload).

The receiver (main thread) records arrival time, path, connection and
raw body of every request and answers 200; bodies are parsed only by
the checker, after the run.  ``/_ctl/*`` paths are the orchestrator's
control channel and are not recorded.

Run: ``python3 perfbench/loadgen.py --mode open --seed 1 --seconds 10
--ports-file P --out-file O``.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import struct
import sys
import threading
import time
from urllib.parse import urlsplit

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workload import (  # noqa: E402
    COLUMNS, FANOUT_RATE, TABLE_NAME, TABLE_OID, TABLE_SCHEMA, TXN_STATEMENTS,
    Model)

PG_EPOCH_UNIX = 946_684_800
PASSWORD = "bench"
KEEPALIVE_S = 10.0
WARM_TXNS = 4


# --- pgoutput encoding (public protocol, "Logical Replication Message
# Formats") -----------------------------------------------------------------

def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _pg_micros(unix_s: float) -> int:
    return int(round((unix_s - PG_EPOCH_UNIX) * 1_000_000))


def _tuple(row: dict) -> bytes:
    out = [struct.pack(">H", len(COLUMNS))]
    for name, _, _ in COLUMNS:
        b = row[name].encode()
        out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def relation_frame() -> bytes:
    body = b"".join(bytes([1 if pk else 0]) + _cstr(name)
                    + struct.pack(">Ii", toid, -1)
                    for name, toid, pk in COLUMNS)
    return (b"R" + struct.pack(">I", TABLE_OID) + _cstr(TABLE_SCHEMA)
            + _cstr(TABLE_NAME) + b"f" + struct.pack(">H", len(COLUMNS))
            + body)


def txn_frames(txn: dict) -> list[bytes]:
    """Begin, one frame per change, Commit."""
    ts = _pg_micros(txn["ts"])
    frames = [b"B" + struct.pack(">QQI", txn["lsn"], ts, txn["xid"])]
    oid = struct.pack(">I", TABLE_OID)
    for e in txn["events"]:
        if e["action"] == "insert":
            frames.append(b"I" + oid + b"N" + _tuple(e["record"]))
        elif e["action"] == "update":
            frames.append(b"U" + oid + b"O" + _tuple(e["old"]) + b"N"
                          + _tuple(e["record"]))
        else:
            frames.append(b"D" + oid + b"O" + _tuple(e["record"]))
    frames.append(b"C" + struct.pack(">BQQQ", 0, txn["lsn"],
                                     txn["lsn"] + 1, ts))
    return frames


def _msg(mtype: bytes, payload: bytes = b"") -> bytes:
    return mtype + struct.pack(">i", len(payload) + 4) + payload


def xlog_copy(wal_pos: int, frame: bytes) -> bytes:
    inner = (b"w" + struct.pack(">QQQ", wal_pos, wal_pos,
                                _pg_micros(time.time())) + frame)
    return _msg(b"d", inner)


def keepalive_copy(wal_end: int) -> bytes:
    inner = b"k" + struct.pack(">QQB", wal_end, _pg_micros(time.time()), 0)
    return _msg(b"d", inner)


def encode_txn(txn: dict) -> bytes:
    """The CopyData stream for one transaction."""
    return b"".join(xlog_copy(txn["lsn"] + i, f)
                    for i, f in enumerate(txn_frames(txn)))


# --- walsender --------------------------------------------------------------

class WalSender:
    """One replication connection at a time; re-accepts on disconnect and
    resumes after the last acknowledged commit."""

    def __init__(self, seed: int, seconds: float):
        self.model = Model(seed)
        self.seconds = seconds
        self.txns: list[dict] = []  # every transaction made, in order
        self.encoded: list[bytes] = []
        self.sent = 0  # txns streamed on the current connection
        self.late_s: list[float] = []
        self.acks: list[tuple[float, int]] = []
        self.go_times: list[float] = []
        self.scheduled = 0  # open-loop transactions made so far
        self.commands: list[tuple[str, float]] = []
        self.gen_done = False
        self.streaming = False
        self.lock = threading.Lock()
        self.stop = threading.Event()
        self.srv = socket.socket()
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.srv.settimeout(0.2)
        self.port = self.srv.getsockname()[1]
        self._rbuf = b""

    def command(self, name: str) -> None:
        """``warm`` or ``go``, from the receiver thread; the walsender
        thread acts on it."""
        with self.lock:
            self.commands.append((name, time.time()))

    def status(self) -> dict:
        with self.lock:
            return {"txns": len(self.txns),
                    "events": len(self.txns) * TXN_STATEMENTS,
                    "gen_done": self.gen_done,
                    "streaming": self.streaming}

    # socket plumbing
    def _read_exact(self, conn, n: int) -> bytes:
        while len(self._rbuf) < n:
            chunk = conn.recv(65536)
            if not chunk:
                raise ConnectionError("client gone")
            self._rbuf += chunk
        out, self._rbuf = self._rbuf[:n], self._rbuf[n:]
        return out

    def _read_msg(self, conn) -> tuple[bytes, bytes]:
        head = self._read_exact(conn, 5)
        (ln,) = struct.unpack(">i", head[1:])
        return head[:1], self._read_exact(conn, ln - 4)

    def _restart_lsn(self) -> int:
        return self.acks[-1][1] if self.acks else 0

    def run(self) -> None:
        while not self.stop.is_set():
            try:
                conn, _ = self.srv.accept()
            except socket.timeout:
                continue
            self._rbuf = b""
            try:
                self._session(conn)
            except (ConnectionError, OSError, struct.error):
                pass
            finally:
                self.streaming = False
                conn.close()
        self.srv.close()

    def _session(self, conn) -> None:
        conn.settimeout(None)
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        (ln,) = struct.unpack(">i", self._read_exact(conn, 4))
        body = self._read_exact(conn, ln - 4)
        (proto,) = struct.unpack_from(">i", body, 0)
        if proto != 196608:
            raise ConnectionError(f"unsupported protocol {proto}")
        conn.sendall(_msg(b"R", struct.pack(">i", 3)))  # cleartext
        mtype, payload = self._read_msg(conn)
        if mtype != b"p" or payload[:-1].decode() != PASSWORD:
            conn.sendall(_msg(b"E", b"SFATAL\x00C28P01\x00Mpassword "
                                    b"authentication failed\x00\x00"))
            return
        conn.sendall(_msg(b"R", struct.pack(">i", 0))
                     + _msg(b"S", _cstr("server_version") + _cstr("16.3"))
                     + _msg(b"K", struct.pack(">ii", 1, 2))
                     + _msg(b"Z", b"I"))
        while not self.stop.is_set():
            mtype, payload = self._read_msg(conn)
            if mtype == b"X":
                return
            if mtype != b"Q":
                continue
            sql = payload[:-1].decode()
            if sql.startswith("START_REPLICATION"):
                conn.sendall(_msg(b"W", struct.pack(">BH", 0, 0)))
                self._stream(conn)
                return
            self._answer(conn, sql)

    def _answer(self, conn, sql: str) -> None:
        def row_desc(names):
            b = struct.pack(">h", len(names)) + b"".join(
                _cstr(n) + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
                for n in names)
            return _msg(b"T", b)

        def data_row(vals):
            b = struct.pack(">h", len(vals))
            for v in vals:
                e = v.encode()
                b += struct.pack(">i", len(e)) + e
            return _msg(b"D", b)

        out = b""
        if sql == "IDENTIFY_SYSTEM":
            out = row_desc(["systemid", "timeline", "xlogpos", "dbname"]) \
                + data_row(["7000", "1", "0/1000000", "postgres"])
        elif "pg_replication_slots" in sql:
            lsn = self._restart_lsn()
            out = row_desc(["restart_lsn"]) + data_row(
                [f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"])
        conn.sendall(out + _msg(b"C", _cstr("SELECT 1")) + _msg(b"Z", b"I"))

    def _drain_acks(self, conn) -> None:
        """Consume standby-status updates without blocking."""
        conn.setblocking(False)
        try:
            while True:
                try:
                    chunk = conn.recv(65536)
                except BlockingIOError:
                    break
                if not chunk:
                    raise ConnectionError("client gone")
                self._rbuf += chunk
        finally:
            conn.setblocking(True)
        while len(self._rbuf) >= 5:
            (ln,) = struct.unpack(">i", self._rbuf[1:5])
            if len(self._rbuf) < ln + 1:
                break
            mtype, payload = self._rbuf[:1], self._rbuf[5:ln + 1]
            self._rbuf = self._rbuf[ln + 1:]
            if mtype in (b"X", b"c"):
                raise ConnectionError("client ended the stream")
            if mtype == b"d" and payload[:1] == b"r":
                (flushed,) = struct.unpack_from(">Q", payload, 9)
                self.acks.append((time.time(), flushed))

    def _stream(self, conn) -> None:
        conn.sendall(xlog_copy(0, relation_frame()))
        self.streaming = True
        restart = self._restart_lsn()
        # resend whatever was made but not acknowledged
        with self.lock:
            self.sent = sum(1 for t in self.txns if t["lsn"] <= restart)
        last_keepalive = time.monotonic()
        while not self.stop.is_set():
            self._drain_acks(conn)
            batch = self._next_frames()
            if batch:
                conn.sendall(batch)
            now = time.monotonic()
            if now - last_keepalive >= KEEPALIVE_S:
                wal_end = self.txns[-1]["lsn"] + 1 if self.txns else 0
                conn.sendall(keepalive_copy(wal_end))
                last_keepalive = now

    def _next_frames(self) -> bytes:
        """Make and return whatever is due now; sleeps briefly when
        nothing is."""
        with self.lock:
            if self.sent < len(self.encoded):
                out = b"".join(self.encoded[self.sent:])
                self.sent = len(self.encoded)
                return out
            cmd = self.commands.pop(0) if self.commands else None
        if cmd is not None and cmd[0] == "warm":
            txns = [self.model.txn(cmd[1]) for _ in range(WARM_TXNS)]
            data = [encode_txn(t) for t in txns]
            with self.lock:
                self.txns.extend(txns)
                self.encoded.extend(data)
            return b""
        if cmd is not None:  # go
            self.go_times.append(cmd[1])
            return b""
        if self.go_times:
            return self._open_loop_step()
        time.sleep(0.02)
        return b""

    def _open_loop_step(self) -> bytes:
        interval = TXN_STATEMENTS / FANOUT_RATE
        if self.scheduled >= int(self.seconds / interval):
            with self.lock:
                self.gen_done = True
            time.sleep(0.05)
            return b""
        due = self.go_times[0] + self.scheduled * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(min(wait, 0.05))
            if due - time.time() > 0:
                return b""
        txn = self.model.txn(due)
        data = encode_txn(txn)
        self.late_s.append(time.time() - due)
        self.scheduled += 1
        with self.lock:
            self.txns.append(txn)
            self.encoded.append(data)
            self.sent = len(self.encoded)
        return data


# --- receiver ---------------------------------------------------------------

class Receiver:
    """Single-threaded HTTP/1.1 sink: one selector loop, no parsing of
    request bodies."""

    def __init__(self, walsender: WalSender | None):
        self.walsender = walsender
        self.sel = selectors.DefaultSelector()
        self.srv = socket.socket()
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(512)
        self.srv.setblocking(False)
        self.port = self.srv.getsockname()[1]
        self.sel.register(self.srv, selectors.EVENT_READ, None)
        # (arrival unix s, path, connection number, body)
        self.requests: list[tuple[float, str, int, bytes]] = []
        self.connections = 0
        self.finished = False

    def serve(self) -> None:
        while not self.finished:
            for key, _ in self.sel.select(timeout=0.2):
                if key.data is None:
                    self._accept()
                else:
                    self._read(key.fileobj, key.data)

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self.srv.accept()
            except BlockingIOError:
                return
            conn.setblocking(False)
            self.connections += 1
            self.sel.register(conn, selectors.EVENT_READ,
                              {"buf": b"", "n": self.connections})

    def _read(self, conn, state: dict) -> None:
        try:
            chunk = conn.recv(262144)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            chunk = b""
        if not chunk:
            self.sel.unregister(conn)
            conn.close()
            return
        state["buf"] += chunk
        while True:
            buf = state["buf"]
            end = buf.find(b"\r\n\r\n")
            if end < 0:
                return
            head = buf[:end].decode("latin-1")
            length = 0
            for line in head.split("\r\n")[1:]:
                name, _, value = line.partition(":")
                if name.strip().lower() == "content-length":
                    length = int(value.strip())
            if len(buf) < end + 4 + length:
                return
            t = time.time()
            body = buf[end + 4:end + 4 + length]
            state["buf"] = buf[end + 4 + length:]
            method, target = head.split(" ", 2)[:2]
            reply = self._handle(t, method, target, state["n"], body)
            conn.setblocking(True)
            try:
                conn.sendall(reply)
            except OSError:
                pass
            conn.setblocking(False)

    def _handle(self, t, method, target, conn_n, body) -> bytes:
        path = urlsplit(target).path
        if not path.startswith("/_ctl/"):
            self.requests.append((t, path, conn_n, body))
            return (b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n"
                    b"Connection: keep-alive\r\n\r\n")
        out: dict = {"requests": len(self.requests)}
        if path in ("/_ctl/go", "/_ctl/warm") and self.walsender is not None:
            self.walsender.command(path[len("/_ctl/"):])
        elif path == "/_ctl/finish":
            self.finished = True
        if self.walsender is not None:
            out.update(self.walsender.status())
        data = json.dumps(out).encode()
        return (b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                b"Content-Length: " + str(len(data)).encode()
                + b"\r\nConnection: close\r\n\r\n" + data)


def _p99(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(0.99 * len(s)))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--mode", choices=("open", "receiver"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--ports-file", required=True)
    ap.add_argument("--out-file", required=True)
    args = ap.parse_args(argv)

    ws = None
    if args.mode != "receiver":
        ws = WalSender(args.seed, args.seconds)
        wal_thread = threading.Thread(target=ws.run, name="walsender")
        wal_thread.start()
    rcv = Receiver(ws)
    tmp = args.ports_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"http": rcv.port, "wal": ws.port if ws else None}, f)
    os.replace(tmp, args.ports_file)
    try:
        rcv.serve()
    finally:
        if ws is not None:
            ws.stop.set()
            wal_thread.join(timeout=10)
    out = {
        "requests": [[t, p, c, b.decode("utf-8", "replace")]
                     for t, p, c, b in rcv.requests],
        "connections": rcv.connections,
        "txns": ws.txns if ws else [],
        "go_times": ws.go_times if ws else [],
        "gen_late_ms_p99": _p99(ws.late_s) * 1000 if ws else 0.0,
        "acks": len(ws.acks) if ws else 0,
    }
    tmp = args.out_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out_file)
    return 0


if __name__ == "__main__":
    sys.exit(main())
