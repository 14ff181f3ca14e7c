"""Open-loop HTTP load generator, run as its own process.

Request ``i`` is due at ``start + i / rate`` whatever the collector does;
each request is timed from when it was due, so a stall also charges the
requests queued behind it.  ``picked`` is when a thread took the request
up; ``sent - max(sched, picked)`` is the generator's own lateness.
Traffic (kinds, bodies, event ids) derives from ``--seed``.  Writes one JSON document with every request's schedule,
send and completion times, status and event ids.

    python3 perfbench/loadgen.py --port 8080 --seed 1 --seconds 10 \
        --rate 300 --threads 4 --mix '{"pixel": 1, "tp2": 1}' --out log.json
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import os
import resource
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.traffic import Traffic, headers_of  # noqa: E402


def send(port: int, spec: dict, timeout_s: float) -> int:
    url = spec["path"] + (f"?{spec['query']}" if spec["query"] else "")
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout_s)
    try:
        conn.request(spec["method"], url, body=spec["body"], headers=headers_of(spec))
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--mix", required=True, help="JSON kind -> share")
    ap.add_argument("--timeout", type=float, default=5.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    n = int(args.seconds * args.rate)
    start = time.time() + 0.5
    traffic = Traffic(args.seed, json.loads(args.mix))
    sched = [start + i / args.rate for i in range(n)]
    specs = [traffic.request(i, int(sched[i] * 1000)) for i in range(n)]
    log = [None] * n
    next_i = itertools.count()
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                i = next(next_i)
            if i >= n:
                return
            picked = time.time()
            delay = sched[i] - picked
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            try:
                status = send(args.port, specs[i], args.timeout)
            except OSError:
                status = 0  # refused, reset or timed out
            log[i] = {"sched": sched[i], "picked": picked, "sent": sent, "done": time.time(),
                      "status": status, "kind": specs[i]["kind"],
                      "eids": specs[i]["eids"]}

    threads = [threading.Thread(target=worker) for _ in range(args.threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ru = resource.getrusage(resource.RUSAGE_SELF)
    with open(args.out, "w", encoding="utf-8") as f:
        # own CPU time: once reaped, it is counted in the CPU time of the
        # process that runs the collector, which subtracts it
        json.dump({"cpu_s": ru.ru_utime + ru.ru_stime, "requests": log}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
