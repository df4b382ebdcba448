"""Run the repository's ES stub (``tests/es_stub.py``) in its own process.

The stub parses every ``_bulk`` NDJSON body in Python. In its own
process that work does not hold the interpreter lock of the process
that serves the reads, so it cannot slow them.

Protocol on stdin/stdout, one JSON line each way:

- on start the server prints ``{"url": ...}``;
- ``{"cmd": "check", "index": name}`` answers with the index's stored
  doc count, whether its ``_id`` set is exactly ``1..N`` and the
  ``_bulk`` requests served so far, then drops the index so stored
  documents do not accumulate;
- ``{"cmd": "stats"}`` answers with the stub's request counters;
- ``{"cmd": "quit"}`` (or end of input) stops the server.

Run from the repository root: ``python3 perfbench/stub_server.py``.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    from es_stub import StubES

    stub = StubES()
    url = stub.start()
    docs_checked = 0
    print(json.dumps({"url": url}), flush=True)
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            if msg["cmd"] == "check":
                with stub.lock:
                    docs = stub.indexes.pop(msg["index"], {})
                    bulk = stub.bulk_requests
                ids = sorted(int(i) for i in docs)
                n = len(ids)
                docs_checked += n
                out = {"count": n, "ids_ok": ids == list(range(1, n + 1)), "bulk_requests": bulk}
            elif msg["cmd"] == "stats":
                with stub.lock:
                    out = {
                        "bulk_requests": stub.bulk_requests,
                        "docs_checked": docs_checked,
                        "indexes_left": len(stub.indexes),
                    }
            else:
                break
            print(json.dumps(out), flush=True)
    finally:
        stub.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
