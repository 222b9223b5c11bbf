#!/usr/bin/env python3
"""Validate graft's TcpGate Arrow wire with the reference's own client
stack (pyarrow): connect over TCP, speak the gate protocol, and decode
the reply with `pyarrow.ipc.open_stream` — proving the stream is a
spec-valid, self-describing Arrow IPC stream whose zstd buffer
compression pyarrow handles transparently, rather than asserting it.

Protocol (see TcpGate's scaladoc):
  client -> `##format arrow\n`, then one SQL statement per line;
  server -> `##schema <StructType json>\n`, then length-prefixed binary
  chunks (4-byte big-endian length + payload) that concatenate to ONE
  Arrow IPC stream, a zero-length terminator chunk, and `##end\n`.

Usage:
  arrow_wire_check.py <host> <port> <sql> [--auth user:pass] [--repeat N]

Prints one JSON line per execution:
  {"rows": N, "cols": [...], "ipc_bytes": B,
   "checksum": "<order-free value checksum>"}
Repeat runs (--repeat 2) exercise the gate's result cache: a cacheable
reply below the gate's 8 MiB inline bound installs the raw frames it
shipped, so the second reply replays that raw inline entry. A larger
reply's entry is zstd-compressed by a background pass; once it is in
place, a repeat GET serves those compressed frames.
"""
import hashlib
import json
import socket
import struct
import sys

import pyarrow as pa
import pyarrow.ipc


class Gate:
    def __init__(self, host, port):
        self.sock = socket.create_connection((host, port))
        self.buf = b""

    def _recv(self):
        b = self.sock.recv(1 << 16)
        if not b:
            raise EOFError("gate closed the connection")
        self.buf += b

    def read_line(self):
        while b"\n" not in self.buf:
            self._recv()
        line, self.buf = self.buf.split(b"\n", 1)
        return line.decode("utf-8").rstrip("\r")

    def read_exact(self, n):
        while len(self.buf) < n:
            self._recv()
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def send_line(self, line):
        self.sock.sendall(line.encode("utf-8") + b"\n")

    def expect_end(self):
        line = self.read_line()
        assert line == "##end", f"expected ##end, got {line!r}"

    def auth(self, user, password):
        self.send_line(f"##auth {user} {password}")
        reply = self.read_line()
        assert reply.startswith("##ok "), f"auth failed: {reply!r}"
        self.expect_end()

    def format_arrow(self):
        self.send_line("##format arrow")
        reply = self.read_line()
        assert reply == "##ok arrow", f"format switch failed: {reply!r}"
        self.expect_end()

    def sql_arrow(self, stmt):
        """Run one statement; return (schema_json, ipc_bytes)."""
        self.send_line(stmt)
        header = self.read_line()
        if header.startswith("##error"):
            raise RuntimeError(header)
        assert header.startswith("##schema "), f"expected ##schema, got {header!r}"
        chunks = []
        while True:
            n = struct.unpack(">i", self.read_exact(4))[0]
            if n == 0:
                break
            chunks.append(self.read_exact(n))
        self.expect_end()
        return header[len("##schema "):], b"".join(chunks)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    host, port, stmt = args[0], int(args[1]), args[2]
    auth = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--auth=")), None)
    repeat = int(next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--repeat=")), "1"))

    g = Gate(host, port)
    if auth:
        g.auth(*auth.split(":", 1))
    g.format_arrow()
    for _ in range(repeat):
        schema_json, ipc = g.sql_arrow(stmt)
        # THE claim under test: one spec-valid self-describing IPC
        # stream; pyarrow's reader handles per-batch buffer compression
        # (zstd) with no hints from us
        reader = pa.ipc.open_stream(ipc)
        rows, total = 0, 0
        for batch in reader:
            # order-free value checksum, one batch at a time: the sum
            # mod 2**64 of each row's sha256 prefix, so a multi-million
            # row reply never has every row in memory at once
            for r in batch.to_pylist():
                digest = hashlib.sha256(repr(r).encode("utf-8")).digest()
                total += int.from_bytes(digest[:8], "little")
            rows += batch.num_rows
        print(json.dumps({
            "rows": rows,
            "cols": reader.schema.names,
            "ipc_bytes": len(ipc),
            "checksum": format(total % 2**64, "016x"),
        }, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
