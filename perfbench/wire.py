"""A strict RESP2 client. The benchmark speaks the protocol itself, so the
server is exercised from outside, through its socket, and any reply that is
not well formed is caught here rather than tolerated by a lenient parser."""

from __future__ import annotations

import json
import socket


class RespReplyError(Exception):
    """A reply that is not well-formed RESP2, or not the shape the command
    must answer with."""


class WireClient:
    def __init__(self, port: int, timeout: float):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.buf = b""

    def close(self) -> None:
        self.sock.close()

    def _fill(self) -> None:
        chunk = self.sock.recv(65536)
        if not chunk:
            raise ConnectionError("server closed the connection")
        self.buf += chunk

    def _line(self) -> bytes:
        while b"\r\n" not in self.buf:
            self._fill()
        line, self.buf = self.buf.split(b"\r\n", 1)
        return line

    def _value(self):
        line = self._line()
        t, body = line[:1], line[1:]
        if t in (b"+", b"-"):
            return (t.decode(), body.decode())
        if t == b":":
            return int(body)
        if t == b"$":
            n = int(body)
            if n == -1:
                return None
            while len(self.buf) < n + 2:
                self._fill()
            data, crlf, self.buf = self.buf[:n], self.buf[n:n + 2], self.buf[n + 2:]
            if crlf != b"\r\n":
                raise RespReplyError("bulk string not terminated by CRLF")
            return data.decode()
        if t == b"*":
            return [self._value() for _ in range(int(body))]
        raise RespReplyError(f"bad reply type {line[:20]!r}")

    def call(self, *args):
        """Send one command; return the decoded reply. Simple strings and
        errors come back as ``("+", text)`` / ``("-", text)``."""
        parts = [a if isinstance(a, bytes) else str(a).encode() for a in args]
        self.sock.sendall(b"*%d\r\n" % len(parts)
                          + b"".join(b"$%d\r\n%s\r\n" % (len(p), p) for p in parts))
        try:
            return self._value()
        except (ValueError, UnicodeDecodeError) as exc:
            raise RespReplyError(str(exc)) from exc


def parse_search_reply(reply, with_meta: bool):
    """A ``VEC.SEARCH ... TRACE`` reply -> ([(id, score, meta)], trace)."""
    if not (isinstance(reply, list) and len(reply) == 2 and isinstance(reply[0], list)
            and isinstance(reply[1], str)):
        raise RespReplyError(f"search reply shape {str(reply)[:80]}")
    hits = []
    for h in reply[0]:
        if not (isinstance(h, list) and len(h) == (3 if with_meta else 2)
                and isinstance(h[0], str) and isinstance(h[1], str)):
            raise RespReplyError(f"hit shape {str(h)[:80]}")
        try:
            hits.append((h[0], float(h[1]), h[2] if with_meta else None))
        except ValueError as exc:
            raise RespReplyError(f"score {h[1]!r}") from exc
    try:
        trace = json.loads(reply[1])
    except json.JSONDecodeError as exc:
        raise RespReplyError(f"TRACE payload {reply[1][:80]!r}") from exc
    if not isinstance(trace, dict) or not {"LatencyMs", "FaissMs"} <= trace.keys():
        raise RespReplyError(f"TRACE payload {reply[1][:80]!r}")
    return hits, trace
