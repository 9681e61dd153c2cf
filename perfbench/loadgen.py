"""Closed-loop HTTP reader for the archiver benchmark.

Runs as its own process (stdlib only, no Spark import) so that client
work never competes with the server for the interpreter lock. One client
with one keep-alive connection reads the raw 10 min window that ends at
``--live-end`` (the newest minute the ingest stream will write), for a
Zipf-chosen channel; it sends its next request only after the previous
response's last body byte arrived. It stops after ``--seconds`` or when
``--stop-file`` exists. Every request is appended to ``--out`` as one
JSON line with its parameters, client-side latency and body.

    python3 perfbench/loadgen.py --port 8080 --meta meta.json --seed 1 \\
        --seconds 10 --live-end 1709852400000000000 --stop-file stop \\
        --out requests.jsonl
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import time
from urllib.parse import quote

_PATH = "/archive-access/api/1.0/archive/1/channels/{}/samples?start={}&end={}"
WINDOW_NS = 10 * 60 * 10**9


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--meta", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--live-end", type=int, required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.meta) as fh:
        meta = json.load(fh)
    rng = random.Random(args.seed * 1009)
    order = meta["zipf_order"]
    names = [meta["channels"][i] for i in order]
    weights = [1.0 / (r + 1) ** meta["zipf_s"] for r in range(len(order))]
    start, end = args.live_end - WINDOW_NS, args.live_end

    deadline = time.monotonic() + args.seconds
    conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=120)
    out = []
    try:
        while time.monotonic() < deadline and not os.path.exists(args.stop_file):
            channel = rng.choices(names, weights)[0]
            path = _PATH.format(quote(channel, safe=""), start, end)
            t0 = time.perf_counter()
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException) as e:
                body, status = str(e).encode(), -1
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", args.port,
                                                  timeout=120)
            t1 = time.perf_counter()
            out.append({"channel": channel, "start": start, "end": end,
                        "i": len(out), "t0": t0, "t1": t1, "status": status,
                        "nbytes": len(body),
                        "body": body.decode("utf-8", "replace")})
    finally:
        conn.close()
    with open(args.out, "w") as fh:
        for rec in out:
            fh.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
