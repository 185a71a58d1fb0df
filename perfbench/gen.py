"""Load generator: one process, one thread, inputs drawn from `--seed`.

    python3 perfbench/gen.py pv-steady --out-dir IN --stage STAGE --stop-file STOP ...
    python3 perfbench/gen.py docs --stage STAGE --segments N --segment-docs M ...

`pv-steady` is an open loop: file i of product-view wire records is due
at `start + i / PV_FILES_PER_S`; it is written to STAGE and renamed into
the watched directory at that time whether or not the engine keeps up,
until the --stop-file appears.  Each event's `timestamp` is its creation
time (what NiFi's UpdateRecord stamps).  Once the --late-file appears, a
small share of events is stamped PV_LATE_S in the past, far behind the
watermark, so the watermark drop path runs.  On exit it writes a JSON
report: its own per-(window, source) tally of on-time events, the late
count and how late each file landed against its schedule.

`docs` writes a corpus backlog of document wire records as numbered
segment files.  Texts and sources are drawn from the sf0.1 `documents`
table; a share of records are exact re-draws of a record from the same
or the previous segment, so watermark-bounded dedup has duplicates to
drop and never sees a re-draw outside its horizon.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import SF_DIR  # noqa: E402

# product-view feed: short windows so state eviction and parquet appends
# happen within a run; the rate is far below what the job drains
PV_RATE = 2000  # events per second
PV_FILES_PER_S = 10
PV_WINDOW_S = 10
PV_SOURCES = ("desktop", "mobile-web", "mobile-app")
PV_SOURCE_WEIGHTS = (0.5, 0.3, 0.2)
PV_LATE_SHARE = 0.01
PV_LATE_S = 60.0  # far behind any watermark of a few seconds
DOC_REDRAW_SHARE = 0.2
# Document event times: segment k spans [k, k+1) * DOC_SEGMENT_SPAN_S after
# DOC_T0.  Against the job's 10-minute watermark a key's dedup state is
# evicted four segments after it was first seen, while a re-draw (same or
# previous segment) always meets its original still in state and no
# record is ever behind the watermark.
DOC_T0 = 1_700_000_000
DOC_SEGMENT_SPAN_S = 300


def _wire_ts(t: float) -> str:
    ms = int(round(t * 1000))
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}+0000"


def pv_steady(a: argparse.Namespace) -> dict:
    rng = random.Random(a.seed)
    per_file = round(PV_RATE / PV_FILES_PER_S)
    tally: dict[tuple[int, str], int] = {}
    lags: list[float] = []
    n_events = n_late = 0
    start = time.time()
    i = 0
    while not os.path.exists(a.stop_file):
        due = start + i / PV_FILES_PER_S
        now = time.time()
        if due > now:
            time.sleep(due - now)
        late_on = os.path.exists(a.late_file)
        lines = []
        for _ in range(per_file):
            created = time.time()
            src = rng.choices(PV_SOURCES, PV_SOURCE_WEIGHTS)[0]
            late = late_on and rng.random() < PV_LATE_SHARE
            ts = _wire_ts(created - PV_LATE_S if late else created)
            if late:
                n_late += 1
            else:
                # the window key the engine computes from the parsed
                # (millisecond) timestamp
                ms = int(round(created * 1000))
                key = (ms // 1000 // PV_WINDOW_S * PV_WINDOW_S, src)
                tally[key] = tally.get(key, 0) + 1
            n_events += 1
            lines.append(json.dumps({
                "event": "ProductView",
                "messageid": f"{a.seed}-{n_events}",
                "userid": f"user-{rng.randrange(100_000)}",
                "properties": {"productid": f"product-{rng.randrange(1000)}"},
                "context": {"source": src},
                "timestamp": ts,
            }))
        name = f"pv-{i:07d}.json"
        staged = os.path.join(a.stage, name)
        with open(staged, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(staged, os.path.join(a.out_dir, name))
        lags.append((time.time() - due) * 1000.0)
        i += 1
    return {
        "events": n_events,
        "late": n_late,
        "files": i,
        "lag_ms": lags,
        "tally": [[w, s, c] for (w, s), c in sorted(tally.items())],
    }


def _fresh_docs(rng: random.Random):
    """Endless (text, source) pairs from the `documents` table, each with
    a text no earlier pair had.  Rows come in a seeded order; once the
    table is used up it is walked again with every text's words rotated
    one place further (a row whose rotation repeats an earlier text is
    rotated on), which keeps each text's token count and distinct-token
    ratio, the quality gate's inputs, while no key outlives the dedup
    horizon and comes back."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=["text", "source"])
    rows = list(zip(table.column("text").to_pylist(), table.column("source").to_pylist()))
    seen: set[str] = set()
    shift = 0
    while True:
        order = list(range(len(rows)))
        rng.shuffle(order)
        for i in order:
            text, source = rows[i]
            words = text.split(" ")
            for k in range(shift, shift + len(words)):
                k %= len(words)
                cand = " ".join(words[k:] + words[:k])
                # the job's normalize_text: lower-case, collapse and trim spaces
                key = re.sub(" +", " ", cand.lower()).strip(" ")
                if key not in seen:
                    seen.add(key)
                    yield cand, source
                    break
        shift += 1


def docs(a: argparse.Namespace) -> dict:
    rng = random.Random(a.seed)
    fresh = _fresh_docs(rng)
    prev: list[tuple[str, str]] = []
    doc_id = 0
    for seg in range(a.segments):
        cur: list[tuple[str, str]] = []
        lines: list[str] = []
        for _ in range(a.segment_docs):
            ts = DOC_T0 + (seg + rng.random()) * DOC_SEGMENT_SPAN_S
            if (prev or cur) and rng.random() < DOC_REDRAW_SHARE:
                k = rng.randrange(len(prev) + len(cur))
                text, source = prev[k] if k < len(prev) else cur[k - len(prev)]
            else:
                text, source = next(fresh)
            cur.append((text, source))
            lines.append(json.dumps({
                "doc_id": doc_id,
                "text": text,
                "source": source,
                "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(int(ts))),
            }))
            doc_id += 1
        path = os.path.join(a.stage, f"docs-{seg:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        prev = cur
    return {"docs": doc_id}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    pv = sub.add_parser("pv-steady")
    pv.add_argument("--out-dir", required=True)
    pv.add_argument("--stage", required=True)
    pv.add_argument("--report", required=True)
    pv.add_argument("--seed", type=int, required=True)
    pv.add_argument("--stop-file", required=True)
    pv.add_argument("--late-file", required=True)
    dc = sub.add_parser("docs")
    dc.add_argument("--stage", required=True)
    dc.add_argument("--report", required=True)
    dc.add_argument("--seed", type=int, required=True)
    dc.add_argument("--segments", type=int, required=True)
    dc.add_argument("--segment-docs", type=int, required=True)
    a = ap.parse_args(argv)
    os.makedirs(a.stage, exist_ok=True)
    report = pv_steady(a) if a.mode == "pv-steady" else docs(a)
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.rename(tmp, a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
