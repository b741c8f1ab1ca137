"""Clients for the program's public surfaces: REST (and the ``/driver``
bridge, which is REST too) over one keep-alive HTTP connection each, and a
PostgreSQL v3 wire-protocol client for ``PgWireServer``."""

from __future__ import annotations

import http.client
import json
import socket
import struct

TIMEOUT_S = 150


class OpError(Exception):
    """An operation the program refused or failed."""


class Http:
    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port,
                                               timeout=TIMEOUT_S)

    def request(self, method: str, path: str, body=None,
                headers: dict | None = None) -> tuple[int, dict, bytes]:
        data = None if body is None else json.dumps(body).encode()
        h = {"Content-Type": "application/json"} if data is not None else {}
        h.update(headers or {})
        self.conn.request(method, path, body=data, headers=h)
        resp = self.conn.getresponse()
        payload = resp.read()
        return resp.status, dict(resp.getheaders()), payload

    def json(self, method: str, path: str, body=None):
        status, _, payload = self.request(method, path, body)
        if status >= 400:
            raise OpError(f"{method} {path}: {status} {payload[:300]!r}")
        return json.loads(payload)

    def close(self) -> None:
        self.conn.close()


class PgClient:
    """Cleartext-password login, simple query and one-shot extended query
    (Parse/Bind/Describe/Execute/Sync) with text-format parameters."""

    def __init__(self, port: int, user: str, database: str,
                 password: str) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port),
                                             timeout=TIMEOUT_S)
        params = b"".join(k.encode() + b"\0" + v.encode() + b"\0" for k, v in
                          (("user", user), ("database", database))) + b"\0"
        self.sock.sendall(struct.pack("!II", 8 + len(params), 196608) + params)
        while True:
            t, body = self._read()
            if t == b"R" and struct.unpack("!I", body[:4])[0] == 3:
                self._send(b"p", password.encode() + b"\0")
            elif t == b"E":
                raise OpError(f"pgwire login: {body!r}")
            elif t == b"Z":
                return

    def _send(self, t: bytes, body: bytes) -> None:
        self.sock.sendall(t + struct.pack("!I", len(body) + 4) + body)

    def _recv(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise OpError("pgwire: server closed the connection")
            buf += chunk
        return buf

    def _read(self) -> tuple[bytes, bytes]:
        t = self._recv(1)
        (n,) = struct.unpack("!I", self._recv(4))
        return t, self._recv(n - 4)

    def _result(self) -> tuple[list[str], list[tuple]]:
        """Read until ReadyForQuery: (columns, rows as text)."""
        cols, rows, error = [], [], None
        while True:
            t, body = self._read()
            if t == b"T":
                (n,), off = struct.unpack("!H", body[:2]), 2
                for _ in range(n):
                    end = body.index(b"\0", off)
                    cols.append(body[off:end].decode())
                    off = end + 1 + 18
            elif t == b"D":
                (n,), off, row = struct.unpack("!H", body[:2]), 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off:off + 4])
                    off += 4
                    row.append(None if ln < 0 else body[off:off + ln].decode())
                    off += max(ln, 0)
                rows.append(tuple(row))
            elif t == b"E":
                error = body
            elif t == b"Z":
                if error is not None:
                    raise OpError(f"pgwire: {error[:300]!r}")
                return cols, rows

    def simple(self, sql: str):
        self._send(b"Q", sql.encode() + b"\0")
        return self._result()

    def extended(self, sql: str, params: list[str]):
        self._send(b"P", b"\0" + sql.encode() + b"\0" + struct.pack("!H", 0))
        bind = b"\0\0" + struct.pack("!HH", 0, len(params))
        for p in params:
            bind += struct.pack("!I", len(p.encode())) + p.encode()
        self._send(b"B", bind + struct.pack("!H", 0))
        self._send(b"D", b"P\0")
        self._send(b"E", b"\0" + struct.pack("!I", 0))
        self._send(b"S", b"")
        return self._result()

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        finally:
            self.sock.close()
