"""RFC 6455 WebSocket framing for the request protocol, and a minimal
client.

The reference's cli crate talks to the server over WebSocket
(server/src/networking.rs:34-95); this module gives the Python CLI the
same transport: connect, send one TEXT message per request batch,
receive one TEXT message per output batch. Dependency-free. The frame
codec (:func:`read_frame` / :func:`write_frame`) is the one both sides
use — the server in server.py (``serve_ws``) and :class:`WsClient` —
with RFC 6455 §5.1's rule that client frames are masked and server
frames are not.
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import struct
from typing import Optional

WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

# Per-frame and per-message payload ceiling, on both sides. The length
# field is peer-controlled (full unsigned 64-bit in the extended
# encoding); without a cap one corrupt or malicious frame declaring
# 2^40 bytes would make the reader buffer it. The JSON-lines TCP
# transport is line-bounded by comparison.
WS_MAX_MESSAGE_BYTES = 64 << 20  # 64 MiB


def accept_key(key: str) -> str:
    """Sec-WebSocket-Accept for a Sec-WebSocket-Key."""

    return base64.b64encode(
        hashlib.sha1((key + WS_GUID).encode()).digest()
    ).decode()


def _xor_mask(payload: bytes, mask: bytes) -> bytes:
    # Vectorized: large Transact messages make masking the data-plane
    # hot path; a per-byte Python loop is ~100x slower.
    import numpy as np

    n = len(payload)
    data = np.frombuffer(payload, dtype=np.uint8)
    key = np.frombuffer((mask * ((n + 3) // 4))[:n], dtype=np.uint8)
    return (data ^ key).tobytes()


def _read_exact(rfile, n: int) -> Optional[bytes]:
    buf = b""
    while len(buf) < n:
        chunk = rfile.read(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def read_frame(rfile) -> Optional[tuple[bool, int, bytes, bool]]:
    """One frame: (fin, opcode, unmasked payload, was_masked); None on
    EOF. Raises ValueError when the declared length passes
    WS_MAX_MESSAGE_BYTES, before any payload is read. ``was_masked``
    lets the server enforce RFC 6455 §5.1 (client frames MUST be
    masked) without re-parsing the header."""

    hdr = _read_exact(rfile, 2)
    if hdr is None:
        return None
    fin = bool(hdr[0] & 0x80)
    opcode = hdr[0] & 0x0F
    masked = bool(hdr[1] & 0x80)
    length = hdr[1] & 0x7F
    if length >= 126:
        fmt = ">H" if length == 126 else ">Q"
        ext = _read_exact(rfile, struct.calcsize(fmt))
        if ext is None:
            return None
        (length,) = struct.unpack(fmt, ext)
    if length > WS_MAX_MESSAGE_BYTES:
        raise ValueError(f"frame declares {length} bytes")
    mask = _read_exact(rfile, 4) if masked else b""
    payload = _read_exact(rfile, length) if length else b""
    if mask is None or payload is None:
        return None
    if masked and payload:
        payload = _xor_mask(payload, mask)
    return fin, opcode, payload, masked


def write_frame(
    wfile, payload: bytes, opcode: int = 0x1, mask: bool = False
) -> None:
    """Write one final frame and flush; ``mask`` for client frames."""

    bit = 0x80 if mask else 0
    head = bytes([0x80 | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([bit | n])
    elif n < 1 << 16:
        head += bytes([bit | 126]) + struct.pack(">H", n)
    else:
        head += bytes([bit | 127]) + struct.pack(">Q", n)
    if mask:
        key = os.urandom(4)
        head += key
        payload = _xor_mask(payload, key) if payload else payload
    wfile.write(head + payload)
    wfile.flush()


class WsClient:
    """Blocking WebSocket client: ``send_text`` / ``recv_text`` /
    ``close``. Control frames (ping) are answered transparently."""

    def __init__(self, host: str, port: int, path: str = "/"):
        self.sock = socket.create_connection((host, port))
        self._rfile = self.sock.makefile("rb")
        self._wfile = self.sock.makefile("wb")
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\n"
                f"Host: {host}:{port}\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        status = self._rfile.readline()
        if b"101" not in status:
            raise ConnectionError(f"handshake rejected: {status!r}")
        accept = None
        while True:
            line = self._rfile.readline()
            if not line or line in (b"\r\n", b"\n"):
                break
            name, _, value = line.decode("latin1").partition(":")
            if name.strip().lower() == "sec-websocket-accept":
                accept = value.strip()
        if accept != accept_key(key):
            raise ConnectionError("bad Sec-WebSocket-Accept")

    def _send(self, payload: bytes, opcode: int) -> None:
        write_frame(self._wfile, payload, opcode, mask=True)

    def send_text(self, text: str) -> None:
        self._send(text.encode("utf-8"), opcode=0x1)

    def recv_text(self) -> Optional[str]:
        """Next TEXT message, or None on clean close. Pings are
        answered; fragments reassembled. Raises ValueError past
        WS_MAX_MESSAGE_BYTES, ConnectionError on a mid-frame close."""

        message = b""
        while True:
            frame = read_frame(self._rfile)
            if frame is None:
                raise ConnectionError("connection closed mid-frame")
            fin, opcode, payload, _ = frame
            if opcode == 0x8:
                return None
            if opcode == 0x9:
                self._send(payload, opcode=0xA)
                continue
            if opcode == 0xA:
                continue
            message += payload
            if len(message) > WS_MAX_MESSAGE_BYTES:
                raise ValueError(f"message passed {WS_MAX_MESSAGE_BYTES} bytes")
            if fin:
                return message.decode("utf-8")

    def close(self) -> None:
        try:
            self._send(b"", opcode=0x8)
        except OSError:
            pass
        self.sock.close()
