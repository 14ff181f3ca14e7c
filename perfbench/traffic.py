"""Seeded tracker traffic: request specs, raw landing rows, and the event
ids a correct collector must deliver for them.

Every generated event carries an id ``ev<seed>-<request>-<n>`` (tp2 ``eid``,
pixel ``eid`` parameter, Amplitude ``insert_id``, Segment ``messageId``)
and its scheduled send time in ms (``dtm`` / ``time`` / ``timestamp``).
"""

from __future__ import annotations

import base64
import json
import os
import random
import re
import uuid
from collections import Counter
from urllib.parse import urlencode

import pyarrow.dataset as ds
import pyarrow.parquet as pq

EID_RE = re.compile(r"ev\d+-\d+-\d+")
TP2_PATH = "/com.snowplowanalytics.snowplow/tp2"
PAYLOAD_SCHEMA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
HOST = "collector.bench.test"
USER_AGENT = "Mozilla/5.0 (X11; Linux x86_64) perfbench/1.0"
AMP_EVENTS = 10  # events per Amplitude batch request


def compact_size(obj) -> int:
    """UTF-8 size of compact JSON — the split stage's element accounting."""
    return len(json.dumps(obj, separators=(",", ":"), ensure_ascii=False).encode())


class Traffic:
    """Request generator for one seed.  ``mix`` maps request kind to its
    share; ``nuids`` is the number of distinct cookie users."""

    def __init__(self, seed: int, mix: dict[str, float], nuids: int = 1000,
                 oversize: dict | None = None, prefix: str = "ev"):
        self.seed = seed
        self.prefix = prefix  # warm-up traffic uses one EID_RE does not match
        self.rng = random.Random(seed)
        self.kinds = list(mix)
        self.weights = [mix[k] for k in self.kinds]
        self.nuids = [str(uuid.UUID(int=self.rng.getrandbits(128), version=4)) for _ in range(nuids)]
        self.oversize = oversize or {}

    # -- event bodies ---------------------------------------------------------
    def _eid(self, i: int, n: int) -> str:
        return f"{self.prefix}{self.seed}-{i}-{n}"

    def _tp2_event(self, eid: str, dtm_ms: int, url_len: int = 40) -> dict:
        sku = self.rng.randrange(100000)
        return {
            "e": self.rng.choice(("pv", "se", "pp")),
            "eid": eid,
            "dtm": str(dtm_ms),
            "aid": "perfbench",
            "p": "web",
            "tv": "js-3.24.0",
            "url": f"https://shop.example.com/p/{sku}?" + "q" * url_len,
            "page": f"Product {sku}",
        }

    def request(self, i: int, sched_ms: int, kind: str | None = None) -> dict:
        """Spec of request ``i``: method, path, query, body, headers, and the
        ids expected in good payloads (``eids``), as ``generic_error`` rows
        (``bad_eids``) and as ``size_violation`` rows (``jumbo``: id -> size)."""
        rng = self.rng
        kind = kind or rng.choices(self.kinds, self.weights)[0]
        nuid = rng.choice(self.nuids)
        spec = {
            "i": i, "kind": kind, "method": "POST", "path": TP2_PATH, "query": None,
            "body": None, "content_type": "application/json",
            "cookies": {"sp": nuid}, "eids": [], "bad_eids": [], "jumbo": {},
        }
        if kind in ("pixel", "badqs"):
            eid = self._eid(i, 0)
            q = urlencode({"e": "pv", "eid": eid, "dtm": sched_ms, "aid": "perfbench",
                           "p": "web", "tv": "js-3.24.0",
                           "url": f"https://shop.example.com/p/{rng.randrange(100000)}"})
            if kind == "badqs":
                q += "&refr=%ZZ"  # invalid percent-encoding -> generic_error
                spec["bad_eids"] = [eid]
            else:
                spec["eids"] = [eid]
            spec.update(method="GET", path="/i", query=q, content_type=None)
        elif kind == "tp2":
            events = [self._tp2_event(self._eid(i, n), sched_ms) for n in range(rng.randint(1, 5))]
            spec["body"] = json.dumps({"schema": PAYLOAD_SCHEMA, "data": events})
            spec["eids"] = [e["eid"] for e in events]
        elif kind == "oversize":
            o = self.oversize
            events = [self._tp2_event(self._eid(i, n), sched_ms, o["url_len"])
                      for n in range(rng.randint(o["events_min"], o["events_max"]))]
            spec["eids"] = [e["eid"] for e in events]
            # one element over max_bytes: a size_violation row beside the
            # payloads the rest of the body splits into
            jumbo = self._tp2_event(self._eid(i, len(events)), sched_ms)
            jumbo["pad"] = "x" * (o["jumbo_bytes"] + rng.randrange(1000))
            events.append(jumbo)
            spec["jumbo"] = {jumbo["eid"]: compact_size(jumbo)}
            spec["body"] = json.dumps({"schema": PAYLOAD_SCHEMA, "data": events})
        elif kind == "amp":
            events = [{
                "event_type": rng.choice(("view", "click", "purchase")),
                "user_id": f"user{rng.randrange(1000)}",
                "device_id": nuid,
                "time": sched_ms,
                "insert_id": self._eid(i, n),
                "event_properties": {"sku": rng.randrange(100000)},
            } for n in range(AMP_EVENTS)]
            spec.update(path="/com.amplitude/2/httpapi",
                        body=json.dumps({"api_key": "perfbench-key", "events": events}))
            spec["eids"] = [e["insert_id"] for e in events]
        elif kind == "ajs":
            eid = self._eid(i, 0)
            sku = rng.randrange(100000)
            spec.update(
                path=f"/com.segment/v1/{rng.choice('tp')}",
                content_type=rng.choice(("application/json", "text/plain")),
                body=json.dumps({
                    "type": "track", "event": "Viewed", "messageId": eid,
                    "userId": f"user{rng.randrange(1000)}", "timestamp": sched_ms,
                    "properties": {"url": f"https://shop.example.com/p/{sku}", "page": f"Product {sku}"},
                    "context": {"library": {"name": "analytics.js", "version": "4.1.0"},
                                "locale": "en-US", "timezone": "UTC"},
                }),
            )
            spec["cookies"]["ajs_anonymous_id"] = nuid
            spec["eids"] = [eid]
        else:
            raise ValueError(f"unknown request kind {kind!r}")
        return spec


def headers_of(spec: dict) -> dict[str, str]:
    h = {"Host": HOST, "User-Agent": USER_AGENT,
         "Cookie": "; ".join(f"{k}={v}" for k, v in spec["cookies"].items())}
    if spec["content_type"]:
        h["Content-Type"] = spec["content_type"]
    return h


def raw_row(spec: dict, request_time: str) -> dict:
    """The landing-zone row the HTTP receiver would append for ``spec``."""
    headers = headers_of(spec)
    if spec["body"] is not None:
        headers["Content-Length"] = str(len(spec["body"].encode()))
    return {
        "request_id": f"req-{spec['i']}",
        "method": spec["method"],
        "path": spec["path"],
        "querystring": spec["query"],
        "body": spec["body"],
        "user_agent": USER_AGENT,
        "referer_uri": None,
        "hostname": HOST,
        "remote_ip": f"10.0.{spec['i'] // 250 % 250}.{spec['i'] % 250 + 1}",
        "headers": [f"{k}: {v}" for k, v in headers.items()],
        "origin": None,
        "cookies": spec["cookies"],
        "content_type": spec["content_type"],
        "sp_anonymous": None,
        "request_time": request_time,
    }


# -- reading the sinks back ----------------------------------------------------

def good_eids(querystring: str | None, body: str | None) -> list[str]:
    """Event ids carried by one good payload (bridged events keep theirs
    inside the base64 ``ue_px`` of the rewritten tracker event)."""
    found = EID_RE.findall(querystring or "")
    if body:
        found += EID_RE.findall(body)
        try:
            data = json.loads(body).get("data", [])
        except ValueError:
            data = []
        for ev in data if isinstance(data, list) else []:
            px = ev.get("ue_px") if isinstance(ev, dict) else None
            if px:
                found += EID_RE.findall(base64.b64decode(px + "=" * (-len(px) % 4)).decode())
    return found


def read_rows(path: str, columns: list[str]) -> list[dict]:
    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet").to_table(columns=columns).to_pylist()


def count_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    n = 0
    for name in os.listdir(path):
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            n += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return n


def reconcile(specs: list[dict], good: list[dict], bad: list[dict]) -> dict:
    """Match every expected event id against the sinks.

    Returns ``events`` (expected), ``ok`` (accounted for exactly once) and
    ``failed`` (missing, duplicated or unexpected)."""
    want_good = {e for s in specs for e in s["eids"]}
    want_badqs = {e for s in specs for e in s["bad_eids"]}
    want_jumbo = Counter(v for s in specs for v in s["jumbo"].values())
    seen = Counter()
    for row in good:
        seen.update(good_eids(row.get("querystring"), row.get("body")))
    seen_bad = Counter()
    seen_jumbo = Counter()
    for row in bad:
        if row["kind"] == "generic_error":
            seen_bad.update(EID_RE.findall(row["payload"] or ""))
        elif row["kind"] == "size_violation":
            seen_jumbo[row["actual_size_bytes"]] += 1
    failed = sum(1 for e in want_good if seen[e] != 1)
    failed += sum(1 for e in want_badqs if seen_bad[e] != 1)
    failed += sum(1 for e in seen if e not in want_good)
    failed += sum(1 for e in seen_bad if e not in want_badqs)
    failed += sum(((want_jumbo - seen_jumbo) + (seen_jumbo - want_jumbo)).values())
    ok = sum(1 for e in want_good if seen[e] == 1) + sum(1 for e in want_badqs if seen_bad[e] == 1)
    ok += sum((want_jumbo & seen_jumbo).values())
    events = len(want_good) + len(want_badqs) + sum(want_jumbo.values())
    return {"events": events, "failed": failed, "ok": ok}
