"""Request protocol server: the reference's client-facing surface.

Parity with the reference's ``Request`` enum and server loop
(src/server/mod.rs:152-191; server/src/main.rs:266-354): clients send
externally-tagged JSON requests — CreateAttribute, Transact, Register,
Interest, Uninterest, Subscribe, Derive, AdvanceDomain, Tick,
CloseInput, Setup, Status, Disconnect, Shutdown — and receive
``{"QueryDiff": [name, [[tuple..., epoch, diff], ...]]}`` outputs
(Output::QueryDiff, src/lib.rs:250-253).

Spark-first: requests dispatch onto an Engine + ReactiveSession; each
transaction/advance is a micro-epoch whose diffs are computed by
Catalyst (see streaming/reactive.py). Two dependency-free transports
serve the same protocol: a JSON-lines TCP listener (``serve`` — one
JSON array of requests per line in, one JSON array of outputs per
line out) and an RFC 6455 WebSocket listener (``serve_ws`` — one TEXT
message per batch), the latter matching the reference's own transport
(server/src/networking.rs:34-95) so its wire clients connect verbatim.
"""

from __future__ import annotations

import json
import socketserver
import threading
from typing import Any, Optional

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from .engine import AttributeConfig, Datom, Engine, InputSemantics
from .plan.wire import decode_value, encode_value, plan_from_dict
from .streaming.reactive import ReactiveSession
from .ws import (
    WS_MAX_MESSAGE_BYTES,
    accept_key,
    read_frame,
    write_frame,
)


def _decode_datom(raw: list) -> Datom:
    """Reference Datom is the tuple struct (e, a, v, time, diff)
    (src/lib.rs:216) — serialized as a 5-element JSON array.

    Rational32 VALUES degrade to double at ingestion (Spark columns
    hold no rational type; the reference itself only ever PRODUCES
    rationals from AVG/VARIANCE, it has no rational-attribute inputs
    in its test surface) — query RESULTS keep the exact Fraction
    through encode_value."""

    from fractions import Fraction

    e, a, v, t, diff = raw
    v = decode_value(v)
    if isinstance(v, Fraction):
        v = float(v)
    return Datom(decode_value(e), a, v, t, diff)


def _decode_config(raw: Optional[dict]) -> AttributeConfig:
    raw = raw or {}
    sem = raw.get("input_semantics", "Raw")
    return AttributeConfig(
        input_semantics=InputSemantics(sem),
        trace_slack=raw.get("trace_slack"),
        index_direction=raw.get("index_direction", "Forward"),
        query_support=raw.get("query_support", "Basic"),
    )


class Server:
    """Dispatch one client's requests onto an engine (the reference's
    ``Server`` struct, src/server/mod.rs:196+)."""

    def __init__(self, spark: SparkSession, engine: Optional[Engine] = None):
        self.spark = spark
        self.engine = engine or Engine(spark)
        self.session = ReactiveSession(self.engine)
        self.closed_inputs: set[str] = set()
        self.shutdown_requested = False
        self._outputs: list[dict] = []
        # Per subscribed interest: the QueryDiff messages its callback
        # produced and ``handle`` has not yet moved to the outputs.
        self._diffs: dict[str, list[dict]] = {}

    # -- output plumbing -------------------------------------------------

    #: rows per QueryDiff message; a huge epoch becomes several
    #: messages instead of one driver-resident list (clients fold
    #: diffs, so splitting is protocol-neutral).
    DIFF_CHUNK_ROWS = 10_000

    def _emit_interest(self, name: str):
        """The interest's callback. It runs on a session worker, so it
        queues its messages; ``handle`` emits every interest's queue in
        registration order, whatever order the workers finished in."""

        queue = self._diffs.setdefault(name, [])

        def callback(diffs_df, epoch: int) -> None:
            # Transacted relations carry their multiset weight in a
            # `diff` column; it folds into the emitted diff
            # (weight x epoch-direction), matching the reference's
            # weighted result diffs (ResultDiff, src/lib.rs:243).
            cols = diffs_df.columns
            weighted = "diff" in cols
            drop = 2 if weighted else 1
            # toLocalIterator streams one partition at a time, so the
            # driver holds at most a partition plus one chunk — a
            # result of any size cannot OOM the server.
            rows = []
            for r in diffs_df.toLocalIterator():
                t = tuple(r)
                d = t[-1] * (r["diff"] if weighted else 1)
                rows.append(
                    [*[encode_value(v) for v in t[:-drop]], epoch, d]
                )
                if len(rows) >= self.DIFF_CHUNK_ROWS:
                    queue.append({"QueryDiff": [name, rows]})
                    rows = []
            if rows:
                queue.append({"QueryDiff": [name, rows]})

        return callback

    # -- request dispatch ------------------------------------------------

    def handle(self, requests: list[dict]) -> list[dict]:
        """Process one batch of requests in order; returns the outputs
        produced (QueryDiffs of any epoch advanced in this batch,
        Status payloads, errors)."""

        self._outputs = []
        for req in requests:
            if isinstance(req, str):
                tag, body = req, None
            else:
                tag, body = next(iter(req.items()))
            try:
                getattr(self, f"_on_{tag.lower()}")(body)
            except AttributeError:
                self._outputs.append({"Error": f"unknown request {tag}"})
            except Exception as exc:  # surface per-request failures
                self._outputs.append({"Error": f"{tag}: {exc}"})
            finally:
                for name in self.session.interests:
                    queue = self._diffs.get(name, [])
                    self._outputs.extend(queue)
                    queue.clear()
        return self._outputs

    def _on_createattribute(self, body: dict) -> None:
        self.engine.create_attribute(body["name"], _decode_config(body.get("config")))

    def _on_transact(self, body: list) -> None:
        datoms = [_decode_datom(d) for d in body]
        blocked = {d.a for d in datoms} & self.closed_inputs
        if blocked:
            raise ValueError(f"closed inputs: {sorted(blocked)}")
        self.session.transact(datoms)

    def _on_register(self, body: dict) -> None:
        for rule in body["rules"]:
            self.engine.register(rule["name"], plan_from_dict(rule["plan"]))

    def _on_interest(self, body: Any) -> None:
        name = body if isinstance(body, str) else body["name"]
        gran = 1
        if isinstance(body, dict) and body.get("granularity") is not None:
            g = body["granularity"]
            # Reference Time values arrive tagged ({"TxId": n}); epochs
            # here are transaction-counted.
            gran = g if isinstance(g, int) else next(iter(g.values()))
        self.session.interest(
            name, self._emit_interest(name), granularity=gran
        )
        # First response: the current state as +1 diffs (the reference
        # replays the arrangement on subscription).
        self.session.advance()

    def _on_uninterest(self, body: str) -> None:
        self.session.uninterest(body)
        self._diffs.pop(body, None)

    def _on_subscribe(self, body: str) -> None:
        """Interest in an entire attribute: an implicit MatchA rule."""

        from .plan.plans import MatchA

        rule = f"__subscribe/{body}"
        if rule not in self.engine.rules:
            self.engine.register(rule, MatchA("?e", body, "?v"))
        self.session.interest(rule, self._emit_interest(rule))
        self.session.advance()

    def _on_derive(self, body: list) -> None:
        """Derive(query, namespace) — GraphQL derived attributes
        (reference: server/src/main.rs:433-447)."""

        from .plan.graphql import derive_graphql

        query, namespace = body
        derive_graphql(self.engine, query, namespace)

    def _on_registersource(self, body: dict) -> None:
        """Source registration (reference: Source enum,
        src/sources/mod.rs:68-80). CsvFile maps to a typed CSV-backed
        attribute set; TimelyLogging/DifferentialLogging map to the
        Spark introspection source."""

        tag, cfg = next(iter(body.items()))
        if tag == "CsvFile":
            from .sources.files import ColumnSpec, register_csv_source

            columns = [
                ColumnSpec(c["aid"], c["column"], c.get("type", "string"))
                for c in cfg["schema"]
            ]
            register_csv_source(
                self.engine,
                cfg.get("table", cfg["path"]),
                cfg["path"],
                cfg["eid_column"],
                columns,
                header=cfg.get("has_headers", True),
                delimiter=cfg.get("delimiter", ","),
            )
        elif tag in ("TimelyLogging", "DifferentialLogging"):
            from .sources.introspection import SparkLoggingSource

            SparkLoggingSource(self.engine).poll()
        else:
            raise ValueError(f"unknown source {tag}")

    def _on_advancedomain(self, body: Any) -> None:
        """AdvanceDomain(name, next): the domain epoch is monotone —
        advancing to the current epoch is a no-op, advancing backward
        errors (reference: Domain::advance_epoch,
        tests/domain_test.rs::test_advance_epoch)."""

        nxt = None
        if isinstance(body, (list, tuple)) and len(body) == 2:
            nxt = body[1]
        elif isinstance(body, int):
            nxt = body
        if nxt is None:
            self.session.advance()
            return
        if nxt < self.session.epoch:
            raise ValueError(
                f"cannot advance epoch backward to {nxt} "
                f"(currently {self.session.epoch})"
            )
        while self.session.epoch < nxt:
            self.session.advance()

    def _on_tick(self, body: Any) -> None:
        self.session.advance()

    def _on_closeinput(self, body: str) -> None:
        self.closed_inputs.add(body)

    def _on_setup(self, body: Any) -> None:
        pass

    def _on_status(self, body: Any) -> None:
        self._outputs.append(
            {
                "Status": {
                    "epoch": self.session.epoch,
                    "attributes": sorted(self.engine._attributes),
                    "rules": sorted(self.engine.rules),
                    "interests": sorted(self.session.interests),
                }
            }
        )

    def _on_disconnect(self, body: Any) -> None:
        for name in list(self.session.interests):
            self._on_uninterest(name)

    def _on_shutdown(self, body: Any) -> None:
        self.shutdown_requested = True


def serve(
    server: Server, host: str = "127.0.0.1", port: int = 0
) -> tuple[socketserver.TCPServer, threading.Thread, int]:
    """JSON-lines TCP transport: each request line is a JSON array of
    requests, each response line the JSON array of outputs. Returns
    (tcp_server, thread, bound_port); shut down with
    ``tcp_server.shutdown()``."""

    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            for line in self.rfile:
                line = line.strip()
                if not line:
                    continue
                try:
                    out = server.handle(json.loads(line))
                except Exception as exc:
                    out = [{"Error": str(exc)}]
                self.wfile.write((json.dumps(out) + "\n").encode())
                self.wfile.flush()
                if server.shutdown_requested:
                    break

    class _TCP(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    tcp = _TCP((host, port), Handler)
    thread = threading.Thread(
        target=inheritable_thread_target(server.spark)(tcp.serve_forever),
        daemon=True,
    )
    thread.start()
    return tcp, thread, tcp.server_address[1]


# ---------------------------------------------------------------------------
# WebSocket transport (RFC 6455, dependency-free)
# ---------------------------------------------------------------------------
#
# The reference serves its Request/Output JSON over WebSocket
# (server/src/networking.rs:34-95), so a reference wire client connects
# with ws://host:port/ and exchanges one TEXT message per request batch
# / output batch. This implements the server side of RFC 6455 directly
# on the same JSON protocol the TCP listener speaks: handshake
# (Sec-WebSocket-Accept = base64(sha1(key + GUID))), masked client
# frames, fragmentation, ping/pong, and close. The frame codec is the
# one ws.py shares with the client.

def serve_ws(
    server: Server, host: str = "127.0.0.1", port: int = 0
) -> tuple[socketserver.TCPServer, threading.Thread, int]:
    """WebSocket transport over the same JSON protocol as :func:`serve`:
    each client TEXT message is a JSON array of requests, each server
    TEXT message the JSON array of outputs — the reference's wire shape
    (server/src/networking.rs:34-95). Returns (ws_server, thread,
    bound_port)."""

    class Handler(socketserver.StreamRequestHandler):
        def _handshake(self) -> bool:
            request_line = self.rfile.readline()
            if not request_line or b"HTTP" not in request_line:
                return False
            key = None
            while True:
                line = self.rfile.readline()
                if not line or line in (b"\r\n", b"\n"):
                    break
                name, _, value = line.decode("latin1").partition(":")
                if name.strip().lower() == "sec-websocket-key":
                    key = value.strip()
            if key is None:
                self.wfile.write(b"HTTP/1.1 400 Bad Request\r\n\r\n")
                return False
            accept = accept_key(key)
            self.wfile.write(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\n"
                    "Connection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
                ).encode()
            )
            self.wfile.flush()
            return True

        def handle(self) -> None:
            if not self._handshake():
                return
            import struct

            def _close(status: int) -> None:
                write_frame(self.wfile, struct.pack(">H", status), opcode=0x8)

            message = b""
            while True:
                try:
                    frame = read_frame(self.rfile)
                except ValueError:  # frame declares too many bytes
                    _close(1009)  # message too big
                    return
                if frame is None:
                    return
                fin, opcode, payload, masked = frame
                if opcode == 0x8:  # close: echo and finish
                    write_frame(self.wfile, payload, opcode=0x8)
                    return
                if opcode == 0x9:  # ping -> pong
                    write_frame(self.wfile, payload, opcode=0xA)
                    continue
                if opcode == 0xA:  # unsolicited pong
                    continue
                if not masked:
                    # RFC 6455 §5.1: client data frames MUST be masked;
                    # an unmasked frame is a protocol error (1002).
                    _close(1002)
                    return
                message += payload  # text/binary/continuation
                if len(message) > WS_MAX_MESSAGE_BYTES:
                    _close(1009)  # message too big
                    return
                if not fin:
                    continue
                try:
                    text = message.decode("utf-8")
                except UnicodeDecodeError:
                    # RFC 6455 §8.1: invalid UTF-8 in a text message ->
                    # close with 1007, not a dropped connection.
                    _close(1007)
                    return
                message = b""
                try:
                    out = server.handle(json.loads(text))
                except Exception as exc:
                    out = [{"Error": str(exc)}]
                write_frame(self.wfile, json.dumps(out).encode())
                if server.shutdown_requested:
                    write_frame(self.wfile, b"", opcode=0x8)
                    return

    class _TCP(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    ws = _TCP((host, port), Handler)
    thread = threading.Thread(
        target=inheritable_thread_target(server.spark)(ws.serve_forever),
        daemon=True,
    )
    thread.start()
    return ws, thread, ws.server_address[1]
