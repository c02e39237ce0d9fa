"""Seeded workload inputs: fixture files, drop order and query sequences.

Everything here is a pure function of the seed (and of the fixture the
seed generates), so the same seed gives the same fixture bytes, the same
drop order and the same query sequence on every run. The library only
ever sees the generated inputs.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass

# (rows, files) of each workload's fixture; every file holds 12,500 rows.
# query_mix loads its fixture as one chunk (one scan task per file);
# incremental_load receives its files one by one. Set-up warms up on one
# more file of that size (seed 0), the shape of an incremental drop. The
# sizes keep a whole run (set-ups, the measured window and the gate) near
# 50 s on a 4-vCPU host, which the run budget of the benchmark requires.
FIXTURES = {"incremental_load": (37_500, 3), "query_mix": (50_000, 4)}
WARMUP_ROWS = 12_500
TOKEN_SAMPLE = 64  # doc_ids whose tokens the gate compares byte for byte
VOCAB_SIZE = 50  # most frequent values per filter field

# Every block of ten query_mix calls (the page slot issues two) has the
# same shape, so the path shares and their order do not drift between
# seeds; the seed only picks the summary key, the filter values, the page
# and which earlier call a repeat re-issues. Per block: 3 fresh
# summary-path calls, 2 fresh live (filtered) aggregations, one OFFSET
# page followed by its keyset continuation, and 3 repeats of an earlier
# cacheable call.
REPEAT_SHARE = 0.3
BLOCK = ("summary", "live", "repeat", "page", "summary", "repeat", "live", "summary", "repeat")
BLOCK_CALLS = len(BLOCK) + 1  # the page slot issues two calls
LIVE_ENDPOINTS = ("statistics", "top_urls", "top_users")
PAGE_SIZE = 50

FILTER_FIELDS = (
    "time_from", "time_to", "ip", "username", "status_code", "action", "search"
)
HOUR = 3600


@dataclass(frozen=True)
class Call:
    """One API request: ``flt`` holds LogFilter values in FILTER_FIELDS
    order (None = unfiltered), ``params`` the keyword arguments."""

    endpoint: str  # statistics|top_urls|top_users|statuses|actions|logs|logs_after
    path: str  # summary|live|page — the path the API takes on a cache miss
    flt: tuple | None = None
    params: tuple = ()

    @property
    def cacheable(self) -> bool:
        return self.endpoint != "logs_after"

    def cursor_source(self) -> "Call":
        """The OFFSET page whose last row a keyset call resumes after."""
        return Call("logs", "page", self.flt, self.params)


# ---- fixture ------------------------------------------------------------


def ensure_fixture(work: str, seed: int, rows: int, files: int) -> tuple[str, dict, float]:
    """Generate (or reuse) the fixture and its ground truth.

    Returns (raw_sequences dir, truth, seconds spent generating; 0.0
    when both came from the cache)."""
    from logparser_spark.fixtures import write_raw_sequences

    d = os.path.join(work, "fixtures", f"seed{seed}-rows{rows}-files{files}")
    marker = os.path.join(d, "_SUCCESS")
    truth_path = os.path.join(d, "truth.json")
    raw = os.path.join(d, "raw_sequences")
    if os.path.exists(marker):
        with open(truth_path) as fh:
            return raw, json.load(fh), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    write_raw_sequences(d, rows, seed=seed, files=files)
    truth = ground_truth(rows, files, seed)
    with open(truth_path, "w") as fh:
        json.dump(truth, fh)
    with open(marker, "w") as fh:
        fh.write("ok")
    return raw, truth, time.perf_counter() - t0


def ground_truth(rows: int, files: int, seed: int) -> dict:
    """Per-category counts from the independent pandas oracle, a seeded
    doc_id sample and the filter vocabulary, all from the generator's
    lines (not from anything the pipeline wrote)."""
    import pandas as pd

    from logparser_spark.fixtures import generate_partitioned_lines
    from logparser_spark.oracle import parse_frame

    lines = pd.concat(generate_partitioned_lines(rows, files, seed), ignore_index=True)
    parsed = parse_frame(lines["line"])
    valid = parsed[parsed["valid"]]
    vocab = {
        field: [_plain(v) for v, _ in Counter(valid[field]).most_common(VOCAB_SIZE)]
        for field in ("ip", "username", "status_code", "action", "domain")
    }
    vocab["domain"] = [d for d in vocab["domain"] if d]
    rng = random.Random(seed)
    return {
        "rows": int(len(lines)),
        "categories": {k: int(v) for k, v in parsed["category"].value_counts().items()},
        "token_sample": sorted(rng.sample(list(lines["doc_id"]), TOKEN_SAMPLE)),
        "vocab": vocab,
        "epoch_range": [int(valid["epoch_us"].min()), int(valid["epoch_us"].max())],
    }


def _plain(v):
    return v.item() if hasattr(v, "item") else v  # numpy scalar -> Python


def drop_order(seed: int, files: list[str]) -> list[str]:
    """The order in which incremental_load lands the fixture's files."""
    order = sorted(files)
    random.Random(seed).shuffle(order)
    return order


# ---- filters and calls --------------------------------------------------


def _zipf_pick(rng: random.Random, values: list, s: float = 1.1):
    """Pick from a frequency-ranked list, rank r with weight 1/(r+1)^s."""
    weights = [1.0 / (r + 1) ** s for r in range(len(values))]
    return rng.choices(values, weights=weights)[0]


def _iso(epoch_s: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch_s))


def _window(rng: random.Random, epoch_range: list[int]) -> dict:
    lo = epoch_range[0] // 1_000_000 // HOUR * HOUR
    hours = max(1, (epoch_range[1] // 1_000_000 - lo) // HOUR)
    length = rng.choice((6, 12, 24))
    start = lo + rng.randrange(max(1, hours - length)) * HOUR
    return {"time_from": _iso(start), "time_to": _iso(start + length * HOUR)}


def _filter(rng: random.Random, truth: dict, kinds: tuple[str, ...], n: int) -> tuple:
    vocab = truth["vocab"]
    values: dict = {}
    for kind in rng.sample(kinds, n):
        if kind == "window":
            values.update(_window(rng, truth["epoch_range"]))
        elif kind == "search":
            values["search"] = _zipf_pick(rng, vocab["domain"])
        else:
            values[kind] = _zipf_pick(rng, vocab[kind])
    return tuple(values.get(f) for f in FILTER_FIELDS)


LIVE_KINDS = ("window", "ip", "username", "status_code", "action", "search")
PAGE_KINDS = ("window", "status_code", "action")  # one broad predicate: pages stay full


def live_call(rng: random.Random, truth: dict, endpoint: str) -> Call:
    flt = _filter(rng, truth, LIVE_KINDS, rng.choice((1, 2)))
    params = {"statistics": (), "top_urls": (("k", rng.choice((10, 25, 50))),),
              "top_users": (("k", rng.choice((5, 10))),)}[endpoint]
    return Call(endpoint, "live", flt, params)


def page_calls(rng: random.Random, truth: dict, page: int) -> tuple[Call, Call]:
    flt = None if rng.random() < 0.5 else _filter(rng, truth, PAGE_KINDS, 1)
    params = (("page", page), ("size", PAGE_SIZE))
    return Call("logs", "page", flt, params), Call("logs_after", "page", flt, params)


def _summary_keys() -> list[Call]:
    keys = [Call("statistics", "summary"), Call("statuses", "summary"),
            Call("actions", "summary")]
    keys += [Call("top_urls", "summary", None, (("k", k),)) for k in range(1, 101)]
    keys += [Call("top_users", "summary", None, (("k", k),)) for k in range(1, 11)]
    return keys


def _unseen(seen: set, draw, tries: int = 20) -> list[Call]:
    """Redraw until the batch's first call was not issued before, so a
    fresh slot is not a hidden repeat."""
    for _ in range(tries):
        batch = draw()
        if batch[0] not in seen:
            break
    return batch


def query_stream(seed: int, truth: dict):
    """The endless query_mix call sequence for a seed (a generator)."""
    rng = random.Random(seed)
    fresh_summary = _summary_keys()
    rng.shuffle(fresh_summary)
    # the one-key endpoints (statistics, statuses, actions) come first,
    # as a dashboard's first load would ask for them
    fresh_summary.sort(key=lambda c: c.endpoint in ("statistics", "statuses", "actions"))
    issued: list[Call] = []  # cacheable calls in first-issue order
    seen: set[Call] = set()
    lives = 0
    while True:
        for kind in BLOCK:
            if kind == "repeat":
                yield _zipf_pick(rng, issued)
                continue
            if kind == "summary":
                # the key space is finite: once spent, a summary slot repeats
                batch = [fresh_summary.pop() if fresh_summary else rng.choice(issued)]
            elif kind == "live":
                endpoint = LIVE_ENDPOINTS[lives % 3]
                lives += 1
                batch = _unseen(seen, lambda: [live_call(rng, truth, endpoint)])
            else:
                batch = _unseen(seen, lambda: list(page_calls(rng, truth, rng.randint(1, 5))))
            for call in batch:
                if call.cacheable and call not in seen:
                    seen.add(call)
                    issued.append(call)
                yield call


SUMMARY_ROTATION = (
    Call("statistics", "summary"), Call("statuses", "summary"),
    Call("top_urls", "summary", None, (("k", 10),)), Call("actions", "summary"),
    Call("top_users", "summary", None, (("k", 5),)),
)


def drop_calls(seed: int, truth: dict, drop: int) -> list[Call]:
    """The dashboard refresh incremental_load issues after each drop: two
    summary reads, two live aggregations, and an OFFSET page with its
    keyset continuation. The rotations reach every endpoint within three
    drops."""
    rng = random.Random(f"{seed}-drop-{drop}")
    first, second = 2 * drop, 2 * drop + 1
    page, keyset = page_calls(rng, truth, 1)
    return [
        SUMMARY_ROTATION[first % 5],
        live_call(rng, truth, LIVE_ENDPOINTS[first % 3]),
        page,
        keyset,
        live_call(rng, truth, LIVE_ENDPOINTS[second % 3]),
        SUMMARY_ROTATION[second % 5],
    ]
