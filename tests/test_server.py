"""Request protocol parity (reference: src/server/mod.rs:152-191,
Output::QueryDiff src/lib.rs:250-253, JSON shapes README.md:79-88)."""

import json
import socket

import pytest

from declarative_dataflow_spark.server import Server, serve


def _requests(spark):
    return Server(spark)


def test_full_request_lifecycle(spark):
    srv = Server(spark)
    out = srv.handle(
        [
            {"CreateAttribute": {"name": "name", "config": {"input_semantics": "Raw"}}},
            {"CreateAttribute": {"name": "age", "config": None}},
            {
                "Register": {
                    "rules": [
                        {
                            "name": "people",
                            "plan": {
                                "Join": {
                                    "variables": [0],
                                    "left_plan": {"MatchA": [0, "name", 1]},
                                    "right_plan": {"MatchA": [0, "age", 2]},
                                }
                            },
                        }
                    ],
                    "publish": ["people"],
                }
            },
            {"Interest": {"name": "people"}},
        ]
    )
    assert out == []  # no data yet

    out = srv.handle(
        [
            {
                "Transact": [
                    [{"Eid": 1}, "name", "Dipper", None, 1],
                    [{"Eid": 1}, "age", {"Number": 12}, None, 1],
                ]
            }
        ]
    )
    [(tag, (name, rows))] = [(k, v) for o in out for k, v in o.items()]
    assert tag == "QueryDiff" and name == "people"
    assert [r[:-2] for r in rows] == [[1, "Dipper", 12]]
    assert [r[-1] for r in rows] == [1]

    # Retraction produces a -1 diff.
    out = srv.handle(
        [{"Transact": [[{"Eid": 1}, "age", {"Number": 12}, None, -1]]}]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    assert [r[-1] for r in rows] == [-1]

    # Status heartbeat.
    [status] = [v for o in srv.handle(["Status"]) for k, v in o.items()]
    assert status["rules"] == ["people"]
    assert status["interests"] == ["people"]

    # CloseInput rejects further writes to that attribute.
    srv.handle([{"CloseInput": "age"}])
    out = srv.handle(
        [{"Transact": [[{"Eid": 2}, "age", {"Number": 9}, None, 1]]}]
    )
    assert any("Error" in o for o in out)

    # Uninterest stops diffs.
    srv.handle([{"Uninterest": "people"}])
    out = srv.handle([{"Transact": [[{"Eid": 3}, "name", "Soos", None, 1]]}])
    assert out == []


def test_subscribe_whole_attribute(spark):
    srv = Server(spark)
    srv.handle([{"CreateAttribute": {"name": "color", "config": None}}])
    out = srv.handle(
        [
            {"Transact": [[{"Eid": 7}, "color", "teal", None, 1]]},
            {"Subscribe": "color"},
        ]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    assert name == "__subscribe/color"
    assert [r[:-2] for r in rows] == [[7, "teal"]]


def test_json_lines_transport(spark):
    srv = Server(spark)
    tcp, thread, port = serve(srv)
    try:
        with socket.create_connection(("127.0.0.1", port)) as s:
            f = s.makefile("rw")
            f.write(
                json.dumps(
                    [
                        {"CreateAttribute": {"name": "x", "config": None}},
                        {"Transact": [[{"Eid": 1}, "x", {"Number": 5}, None, 1]]},
                        {"Subscribe": "x"},
                        "Status",
                    ]
                )
                + "\n"
            )
            f.flush()
            out = json.loads(f.readline())
            tags = [k for o in out for k in o]
            assert "QueryDiff" in tags and "Status" in tags
    finally:
        tcp.shutdown()
        tcp.server_close()


def test_register_csv_source(spark, tmp_path):
    csv = tmp_path / "people.csv"
    csv.write_text("id,name,age\n1,Dipper,12\n2,Mabel,13\n")
    srv = Server(spark)
    out = srv.handle(
        [
            {
                "RegisterSource": {
                    "CsvFile": {
                        "path": str(csv),
                        "table": "people_csv",
                        "eid_column": "id",
                        "has_headers": True,
                        "schema": [
                            {"aid": "p/name", "column": "name"},
                            {"aid": "p/age", "column": "age", "type": "long"},
                        ],
                    }
                }
            },
            {"Subscribe": "p/age"},
        ]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    assert sorted(r[:-2] for r in rows) == [[1, 12], [2, 13]]


def test_cli_roundtrip(spark):
    """cli.py client functions against a live TCP server
    (reference: cli/src/main.rs ping/req/tx)."""

    import sys

    sys.path.insert(0, "/root/repo")
    import cli

    srv = Server(spark)
    tcp, thread, port = serve(srv)
    try:
        args = ["--port", str(port)]
        assert cli.main(args + ["req", '[{"CreateAttribute": {"name": "x", "config": null}}]']) == 0
        assert cli.main(args + ["tx", '[[{"Eid": 1}, "x", {"Number": 5}, null, 1]]']) == 0
        assert cli.main(args + ["ping"]) == 0
        assert "x" in srv.engine._attributes
        assert srv.engine._transacted["x"].rows
    finally:
        tcp.shutdown()
        tcp.server_close()


def test_derive_request(spark):
    """Derive(query, namespace) materializes GraphQL pull paths as
    queryable attributes via the protocol."""

    srv = Server(spark)
    srv.handle(
        [
            {"CreateAttribute": {"name": "hero/name", "config": None}},
            {"Transact": [[{"Eid": 1}, "hero/name", "Dipper", None, 1]]},
            {"Derive": ['query { hero(name: "Dipper") { name } }', "d"]},
            {"Subscribe": "d/hero/name"},
        ]
    )
    out = srv.handle(["Status"])
    [status] = [v for o in out for k, v in o.items() if k == "Status"]
    assert "d/hero/name" in status["attributes"]


def test_lww_attribute_via_protocol(spark):
    """CreateAttribute with LastWriteWins config: an out-of-order
    older write does not displace the newer value."""

    srv = Server(spark)
    out = srv.handle(
        [
            {
                "CreateAttribute": {
                    "name": "temp",
                    "config": {"input_semantics": "LastWriteWins"},
                }
            },
            {
                "Transact": [
                    [{"Eid": 1}, "temp", {"Number": 20}, 10, 1],
                    [{"Eid": 1}, "temp", {"Number": 15}, 5, 1],  # late, older
                ]
            },
            {"Subscribe": "temp"},
        ]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    assert [r[:-2] for r in rows] == [[1, 20]]  # newer t wins


def test_advance_domain_monotone(spark):
    """Ported from the reference's domain_test.rs::test_advance_epoch:
    advance forward ok, re-advance to the same epoch is a no-op,
    advancing BACKWARD errors."""

    from declarative_dataflow_spark.server import Server

    srv = Server(spark)
    assert srv.session.epoch == 0
    out = srv.handle([{"AdvanceDomain": [None, 1]}])
    assert srv.session.epoch == 1
    assert not [o for o in out if "Error" in o]
    out = srv.handle([{"AdvanceDomain": [None, 1]}])  # same: no-op
    assert srv.session.epoch == 1
    assert not [o for o in out if "Error" in o]
    out = srv.handle([{"AdvanceDomain": [None, 0]}])  # backward: error
    assert [o for o in out if "Error" in o]
    assert srv.session.epoch == 1


def test_cas_attribute_via_protocol(spark):
    """CreateAttribute with CompareAndSwap config + tagged Cas pairs:
    expect-absent sets the register, a stale expectation fails, a
    matching expectation swaps."""

    srv = Server(spark)
    out = srv.handle(
        [
            {
                "CreateAttribute": {
                    "name": "reg",
                    "config": {"input_semantics": "CompareAndSwap"},
                }
            },
            {
                "Transact": [
                    [{"Eid": 1}, "reg", {"Cas": [None, {"Number": 1}]}, 1, 1],
                    [{"Eid": 1}, "reg", {"Cas": [None, {"Number": 8}]}, 2, 1],
                    [{"Eid": 1}, "reg", {"Cas": [{"Number": 1}, {"Number": 2}]}, 3, 1],
                ]
            },
            {"Subscribe": "reg"},
        ]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    assert [r[:-2] for r in rows] == [[1, 2]]


def _ws_client_connect(port):
    """Minimal RFC 6455 client: handshake + masked text frames."""

    import base64
    import hashlib
    import os

    s = socket.create_connection(("127.0.0.1", port))
    key = base64.b64encode(os.urandom(16)).decode()
    s.sendall(
        (
            "GET / HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{port}\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    f = s.makefile("rb")
    status = f.readline()
    assert b"101" in status, status
    accept = None
    while True:
        line = f.readline()
        if line in (b"\r\n", b"\n", b""):
            break
        name, _, value = line.decode().partition(":")
        if name.strip().lower() == "sec-websocket-accept":
            accept = value.strip()
    guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
    expect = base64.b64encode(hashlib.sha1((key + guid).encode()).digest()).decode()
    assert accept == expect  # server computed the RFC 6455 accept key
    return s, f


def _ws_client_send(sock, payload: bytes, opcode=0x1, fin=True):
    import os
    import struct

    mask = os.urandom(4)
    head = bytes([(0x80 if fin else 0) | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([0x80 | n])
    elif n < 1 << 16:
        head += bytes([0x80 | 126]) + struct.pack(">H", n)
    else:
        head += bytes([0x80 | 127]) + struct.pack(">Q", n)
    body = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    sock.sendall(head + mask + body)


def _ws_client_recv(f):
    import struct

    while True:
        hdr = f.read(2)
        assert len(hdr) == 2
        opcode = hdr[0] & 0x0F
        n = hdr[1] & 0x7F
        if n == 126:
            (n,) = struct.unpack(">H", f.read(2))
        elif n == 127:
            (n,) = struct.unpack(">Q", f.read(8))
        payload = f.read(n) if n else b""
        if opcode == 0xA:  # pong
            return ("pong", payload)
        if opcode == 0x8:
            return ("close", payload)
        return ("text", payload)


def test_websocket_transport(spark):
    """The reference's own transport (server/src/networking.rs:34-95):
    Register/Interest/Transact over WebSocket TEXT messages, QueryDiff
    back — the ported query_test.rs lifecycle on the reference's wire.
    Also exercises client-side masking (mandatory), fragmentation, and
    ping/pong."""

    from declarative_dataflow_spark.server import serve_ws

    srv = Server(spark)
    ws, thread, port = serve_ws(srv)
    try:
        s, f = _ws_client_connect(port)
        batch = json.dumps(
            [
                {"CreateAttribute": {"name": "name", "config": None}},
                {"CreateAttribute": {"name": "age", "config": None}},
                {
                    "Register": {
                        "rules": [
                            {
                                "name": "people",
                                "plan": {
                                    "Join": {
                                        "variables": [0],
                                        "left_plan": {"MatchA": [0, "name", 1]},
                                        "right_plan": {"MatchA": [0, "age", 2]},
                                    }
                                },
                            }
                        ],
                        "publish": ["people"],
                    }
                },
                {"Interest": {"name": "people"}},
            ]
        ).encode()
        _ws_client_send(s, batch)
        kind, payload = _ws_client_recv(f)
        assert kind == "text" and json.loads(payload) == []

        # Ping answers pong without disturbing the request stream.
        _ws_client_send(s, b"hello", opcode=0x9)
        kind, payload = _ws_client_recv(f)
        assert (kind, payload) == ("pong", b"hello")

        # Transact arrives FRAGMENTED across two continuation frames.
        tx = json.dumps(
            [
                {
                    "Transact": [
                        [{"Eid": 1}, "name", "Dipper", None, 1],
                        [{"Eid": 1}, "age", {"Number": 12}, None, 1],
                    ]
                }
            ]
        ).encode()
        _ws_client_send(s, tx[: len(tx) // 2], opcode=0x1, fin=False)
        _ws_client_send(s, tx[len(tx) // 2 :], opcode=0x0, fin=True)
        kind, payload = _ws_client_recv(f)
        assert kind == "text"
        [(tag, (name, rows))] = [
            (k, v) for o in json.loads(payload) for k, v in o.items()
        ]
        assert tag == "QueryDiff" and name == "people"
        assert [r[:-2] for r in rows] == [[1, "Dipper", 12]]
        assert [r[-1] for r in rows] == [1]

        # Clean close handshake.
        _ws_client_send(s, b"", opcode=0x8)
        kind, _ = _ws_client_recv(f)
        assert kind == "close"
        s.close()
    finally:
        ws.shutdown()
        ws.server_close()


def test_real_value_end_to_end(spark):
    """A Real(I16F16) datom survives transact -> QueryDiff with exact
    fixed-point semantics: the emitted value is the same raw I16F16,
    never a drifted binary float."""

    srv = Server(spark)
    out = srv.handle(
        [
            {"CreateAttribute": {"name": "temp", "config": None}},
            {
                "Transact": [
                    [{"Eid": 5}, "temp", {"Real": 98304}, None, 1],  # 1.5
                    [{"Eid": 6}, "temp", {"Real": 1}, None, 1],  # 2^-16
                ]
            },
            {"Subscribe": "temp"},
        ]
    )
    [(name, rows)] = [v for o in out for k, v in o.items() if k == "QueryDiff"]
    got = {r[0]: r[1] for r in rows}
    assert got[5] == {"Real": 98304}
    assert got[6] == {"Real": 1}
    # JSON-serializable exactly as the reference's wire shape.
    json.dumps(out)


def test_websocket_large_frames(spark):
    """Frames beyond the 125-byte and 64 KiB thresholds use the
    extended 16-bit and 64-bit length encodings in both directions: a
    Transact of ~3000 datoms (>64 KiB of JSON) round-trips."""

    from declarative_dataflow_spark.server import serve_ws

    srv = Server(spark)
    ws, thread, port = serve_ws(srv)
    try:
        s, f = _ws_client_connect(port)
        _ws_client_send(
            s,
            json.dumps(
                [{"CreateAttribute": {"name": "big", "config": None}}]
            ).encode(),
        )
        assert _ws_client_recv(f)[0] == "text"
        tx = json.dumps(
            [
                {
                    "Transact": [
                        [{"Eid": i}, "big", f"value-{i:06d}-{'x' * 12}", None, 1]
                        for i in range(3000)
                    ]
                },
                {"Subscribe": "big"},
            ]
        ).encode()
        assert len(tx) > 1 << 16  # forces the 64-bit length encoding
        _ws_client_send(s, tx)
        kind, payload = _ws_client_recv(f)
        assert kind == "text"
        outs = json.loads(payload)
        rows = [
            r
            for o in outs
            for k, v in o.items()
            if k == "QueryDiff"
            for r in v[1]
        ]
        assert len(rows) == 3000
        s.close()
    finally:
        ws.shutdown()
        ws.server_close()


def test_ws_client_module_roundtrip(spark):
    """The packaged WsClient (cli --ws transport) against serve_ws:
    send a batch, read QueryDiffs, survive a server ping, clean close."""

    from declarative_dataflow_spark.server import serve_ws
    from declarative_dataflow_spark.ws import WsClient

    srv = Server(spark)
    ws, thread, port = serve_ws(srv)
    try:
        c = WsClient("127.0.0.1", port)
        c.send_text(
            json.dumps(
                [
                    {"CreateAttribute": {"name": "wv", "config": None}},
                    {"Transact": [[{"Eid": 3}, "wv", {"Number": 9}, None, 1]]},
                    {"Subscribe": "wv"},
                    "Status",
                ]
            )
        )
        out = json.loads(c.recv_text())
        tags = [k for o in out for k in o]
        assert "QueryDiff" in tags and "Status" in tags
        c.close()
    finally:
        ws.shutdown()
        ws.server_close()


def test_ws_frame_codec_property():
    """Property gate: any payload, masked with any key, at any length
    encoding (7-bit / 16-bit / 64-bit) is recovered exactly by the
    shared frame reader; server-written (unmasked) and client-written
    (masked) frames round-trip through it."""

    import io
    import struct

    from hypothesis import given, settings, strategies as st

    from declarative_dataflow_spark.ws import read_frame, write_frame

    def client_frame(payload: bytes, mask: bytes, opcode=0x1) -> bytes:
        head = bytes([0x80 | opcode])
        n = len(payload)
        if n < 126:
            head += bytes([0x80 | n])
        elif n < 1 << 16:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        else:
            head += bytes([0x80 | 127]) + struct.pack(">Q", n)
        body = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        return head + mask + body

    boundary = st.sampled_from([0, 1, 125, 126, 127, 65535, 65536])
    sizes = st.one_of(boundary, st.integers(min_value=0, max_value=300))

    @settings(max_examples=30, deadline=None)
    @given(
        size=sizes,
        seed=st.integers(min_value=0, max_value=2**32 - 1),
        mask=st.binary(min_size=4, max_size=4),
    )
    def check(size, seed, mask):
        import random as _random

        payload = _random.Random(seed).randbytes(size)
        fin, opcode, got, was_masked = read_frame(
            io.BytesIO(client_frame(payload, mask))
        )
        assert (fin, opcode, got, was_masked) == (True, 0x1, payload, True)
        # server-side writer round-trips through an unmasked read, the
        # client-side writer through a masked one
        for masked in (False, True):
            out = io.BytesIO()
            write_frame(out, payload, mask=masked)
            frame = read_frame(io.BytesIO(out.getvalue()))
            assert frame == (True, 0x1, payload, masked)

    check()


def test_ws_client_rejects_oversized_frame():
    """The client holds the server's WS_MAX_MESSAGE_BYTES bound: a
    server frame header declaring 2^40 bytes raises before any payload
    is read, instead of blocking to buffer it. The fake server keeps
    the socket open, so a client that tries to read the payload times
    out instead."""

    import base64
    import hashlib
    import struct
    import threading

    from declarative_dataflow_spark.ws import WsClient

    listener = socket.create_server(("127.0.0.1", 0))
    port = listener.getsockname()[1]
    done = threading.Event()

    def fake_server():
        conn, _ = listener.accept()
        with conn:
            f = conn.makefile("rb")
            key = None
            while True:
                line = f.readline()
                if line in (b"\r\n", b"\n", b""):
                    break
                name, _, value = line.decode().partition(":")
                if name.strip().lower() == "sec-websocket-key":
                    key = value.strip()
            guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
            accept = base64.b64encode(
                hashlib.sha1((key + guid).encode()).digest()
            ).decode()
            conn.sendall(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\n"
                    "Connection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
                ).encode()
            )
            conn.sendall(bytes([0x81, 127]) + struct.pack(">Q", 1 << 40))
            done.wait(30)

    t = threading.Thread(target=fake_server, daemon=True)
    t.start()
    try:
        c = WsClient("127.0.0.1", port)
        c.sock.settimeout(5)
        with pytest.raises(ValueError):
            c.recv_text()
        c.sock.close()
    finally:
        done.set()
        t.join(10)
        listener.close()


def test_ws_protocol_error_closes(spark):
    """RFC 6455 error paths close cleanly instead of dropping the
    connection with a traceback: an unmasked client data frame gets a
    1002 (protocol error) close, and invalid UTF-8 in a text message a
    1007 (invalid payload) close."""

    import struct

    from declarative_dataflow_spark.server import serve_ws

    srv = Server(spark)
    ws, thread, port = serve_ws(srv)
    try:
        # Unmasked data frame -> 1002.
        s, f = _ws_client_connect(port)
        payload = b"[]"
        s.sendall(bytes([0x81, len(payload)]) + payload)  # mask bit unset
        kind, body = _ws_client_recv(f)
        assert kind == "close"
        assert struct.unpack(">H", body[:2])[0] == 1002
        s.close()

        # Masked but invalid UTF-8 text -> 1007.
        s, f = _ws_client_connect(port)
        _ws_client_send(s, b"\xff\xfe\xfd")
        kind, body = _ws_client_recv(f)
        assert kind == "close"
        assert struct.unpack(">H", body[:2])[0] == 1007
        s.close()
    finally:
        ws.shutdown()
        ws.server_close()


def test_query_diffs_in_registration_order(spark):
    """An advance's QueryDiffs come out in interest registration order,
    whatever order the session's workers finish their steps in."""

    srv = Server(spark)
    names = ["by_age", "people", "ages"]
    srv.handle(
        [
            {"CreateAttribute": {"name": "name", "config": None}},
            {"CreateAttribute": {"name": "age", "config": None}},
            {
                "Register": {
                    "rules": [
                        {
                            "name": "by_age",
                            "plan": {
                                "Aggregate": {
                                    "variables": [1, 2],
                                    "plan": {
                                        "Join": {
                                            "variables": [0],
                                            "left_plan": {"MatchA": [0, "name", 1]},
                                            "right_plan": {"MatchA": [0, "age", 2]},
                                        }
                                    },
                                    "aggregation_fns": ["MAX"],
                                    "key_variables": [1],
                                    "aggregation_variables": [2],
                                    "with_variables": [0],
                                }
                            },
                        },
                        {
                            "name": "people",
                            "plan": {
                                "Join": {
                                    "variables": [0],
                                    "left_plan": {"MatchA": [0, "name", 1]},
                                    "right_plan": {"MatchA": [0, "age", 2]},
                                }
                            },
                        },
                        {"name": "ages", "plan": {"MatchA": [0, "age", 2]}},
                    ],
                    "publish": names,
                }
            },
            *[{"Interest": {"name": n}} for n in names],
        ]
    )
    for e in range(1, 5):
        out = srv.handle(
            [
                {
                    "Transact": [
                        [{"Eid": e}, "name", f"n{e % 2}", None, 1],
                        [{"Eid": e}, "age", {"Number": 10 * e}, None, 1],
                    ]
                }
            ]
        )
        order = [o["QueryDiff"][0] for o in out]
        assert order == sorted(order, key=names.index), order
        assert set(order) == set(names), order
