"""Loopback HTTP receiver: replies 200 at once and keeps every POST body.

Run as its own process so that its work stays out of the program's process
tree:

    python3 perfbench/receiver.py --port-file PORT --out BODIES

It binds an ephemeral port on 127.0.0.1, writes the port number to
``--port-file``, and on SIGTERM writes every body it received to ``--out``
as records of ``<float64 arrival wall time><uint32 length><body>``. Nothing
is decoded here; the benchmark decodes after the timed window has closed.
"""

from __future__ import annotations

import argparse
import os
import signal
import struct
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

RECORD = struct.Struct("<dI")


def read_bodies(path: str) -> list[tuple[float, bytes]]:
    """The ``(arrival, body)`` records a receiver wrote, in arrival order."""
    out = []
    with open(path, "rb") as fh:
        data = fh.read()
    i = 0
    while i < len(data):
        arrival, n = RECORD.unpack_from(data, i)
        i += RECORD.size
        out.append((arrival, data[i : i + n]))
        i += n
    out.sort(key=lambda r: r[0])
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--port-file", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    bodies: list[tuple[float, bytes]] = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self) -> None:  # noqa: N802 (http.server naming)
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            bodies.append((time.time(), body))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *_args) -> None:
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.rename(tmp, args.port_file)
    stop.wait()
    server.shutdown()
    server.server_close()
    with open(args.out, "wb") as fh:
        for arrival, body in bodies:
            fh.write(RECORD.pack(arrival, len(body)))
            fh.write(body)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
