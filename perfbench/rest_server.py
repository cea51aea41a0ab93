"""REST catalog server process for the benchmark.

Serves the repository's test stub catalog (`tests/rest_stub.py`, used as
is) on an ephemeral localhost port, in a process of its own so its CPU
time and interpreter lock are not billed to the benchmark process.
Prints `URI <uri>` once listening, then serves until stdin closes.

`GET /perfbench/requests` answers the number of catalog requests served
so far and how many of them were commits (POSTs to a table or to the
multi-table transaction route), so the benchmark can count round-trips and
commit attempts per commit.

    python3 perfbench/rest_server.py <warehouse-dir>
"""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_ROOT, os.path.join(_ROOT, "tests")]

from rest_stub import make_server  # noqa: E402


_COMMIT = re.compile(r"/v1/(.*/)?(namespaces/[^/]+/tables/[^/]+|transactions/commit)$")


def main() -> None:
    server, state, uri = make_server(sys.argv[1])
    base = server.RequestHandlerClass

    class CountingHandler(base):
        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path == "/perfbench/requests":
                log = list(self.state.requests)
                commits = sum(
                    1 for method, path in log if method == "POST" and _COMMIT.match(path)
                )
                self._send(200, {"requests": len(log), "commits": commits})
                return
            super().do_GET()

    server.RequestHandlerClass = CountingHandler
    print(f"URI {uri}", flush=True)
    sys.stdin.read()  # the parent closes stdin (or exits) to stop us
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
