"""serve_mixed: sketch serving in one process, no Spark.

Set-up folds seeded Zipf pages into N_STATES packed partial six-sketch
states with the fused kernel and computes their reference fold. A
round starts from an empty sketch and, for each partial state in turn,
merges it in (the write) and then answers READS_PER_MERGE requests from
a seeded mix (the reads), one at a time (closed loop, one client).
Rounds repeat for the run's seconds. Every round must end with the
merged state byte-equal to the reference fold and give the answers of
the first round, and after the timed rounds every answer of the first
round is compared with the answer of a fresh reference fold.
"""

from __future__ import annotations

import math
import os
import time
from statistics import median

import numpy as np

from . import common
from .sketches import PHI, QS, Truth, template

N_STATES = 32
DOCS_PER_STATE = 160
READS_PER_MERGE = 24
KEYS_PER_POINT = 64
PAGE_KW = {"n_hosts": 1000, "n_vocab": 10_000, "alpha": 1.0, "min_len": 100, "len_range": 301}
# Read shares, fixed per round (the seed only orders the reads and picks
# their keys). Sorted by latency the classes run point_cm < hll < kll <
# point_cs < mg_topk < hh_range < hh_phi; the shares put the p99 of all
# reads in the upper tail of hh_range, away from the steps between
# classes. hh_phi, ~20x slower than hh_range and bound by memory
# bandwidth, keeps a small share so that it does not set the throughput
# alone.
MIX = {
    "point_cm": 0.20,
    "hll_estimate": 0.05,
    "kll_quantile": 0.05,
    "point_cs": 0.42,
    "mg_topk": 0.12,
    "hh_range": 0.155,
    "hh_phi": 0.005,
}
SETUP_REPS = 3


def _answer(sk, kind: str, arg):
    if kind == "point_cm":
        return sk["cm"].point(arg)
    if kind == "point_cs":
        return sk["cs"].point(arg)
    if kind == "mg_topk":
        return sk["mg"].candidates()[:arg]
    if kind == "hh_phi":
        return sk["hh"].query(arg)
    if kind == "hh_range":
        return sk["hh"].range_count(*arg)
    if kind == "kll_quantile":
        return sk["kll"].quantile(arg)
    return sk["hll"].estimate()


def _equal(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


def _pages_batches(seed: int):
    """N_STATES Arrow batches of DOCS_PER_STATE pages from the pages
    generator of io.pages, run in this process."""
    import pyarrow as pa

    from heavy_hitters_spark.io.pages import _gen_batch, _zipf_cdf

    host_cdf = _zipf_cdf(PAGE_KW["n_hosts"], PAGE_KW["alpha"])
    vocab_cdf = _zipf_cdf(PAGE_KW["n_vocab"], PAGE_KW["alpha"])
    out = []
    for i in range(N_STATES):
        idx = np.arange(i * DOCS_PER_STATE, (i + 1) * DOCS_PER_STATE, dtype=np.int64)
        pdf = _gen_batch(idx, host_cdf, vocab_cdf, PAGE_KW["min_len"], PAGE_KW["len_range"], seed)
        out.append([pa.RecordBatch.from_pandas(pdf[["text"]], preserve_index=False)])
    return out


def _requests(truth: Truth, rng: np.random.Generator) -> list[list[tuple[str, object]]]:
    """Per merge, the READS_PER_MERGE requests that follow it."""
    n = N_STATES * READS_PER_MERGE
    counts = {k: int(round(share * n)) for k, share in MIX.items()}
    counts["point_cs"] += n - sum(counts.values())
    order = rng.permutation([k for k, c in counts.items() for _ in range(c)])
    hot = truth.ids[np.argsort(-truth.freqs, kind="stable")[:1000]]
    out = []
    for i in range(N_STATES):
        seg = []
        for kind in order[i * READS_PER_MERGE : (i + 1) * READS_PER_MERGE].tolist():
            if kind in ("point_cm", "point_cs"):
                half = KEYS_PER_POINT // 2
                arg = np.concatenate([
                    rng.choice(hot, half),
                    rng.integers(0, 1 << 32, KEYS_PER_POINT - half, dtype=np.uint64),
                ])
            elif kind == "mg_topk":
                arg = int(rng.integers(10, 101))
            elif kind == "hh_phi":
                arg = PHI
            elif kind == "hh_range":
                lo = int(rng.integers(0, 1 << 31))
                arg = (lo, lo + int(rng.integers(1 << 16, 1 << 30)))
            elif kind == "kll_quantile":
                arg = QS
            else:
                arg = None
            seg.append((kind, arg))
        out.append(seg)
    return out


def _setup(seed: int, rng_seed: int) -> dict:
    """Partial states, requests and the reference final state."""
    import pyarrow as pa

    from heavy_hitters_spark.core.base import pack_state, unpack_state

    from .builds import run_fused_1t

    batches = _pages_batches(seed)
    t = time.perf_counter()
    states = run_fused_1t(batches, pack_state(template()))
    kernel_s = time.perf_counter() - t
    truth = Truth.of_text(pa.concat_arrays([b[0].column("text") for b in batches]))
    ref = template()
    for st in states:
        ref.merge(unpack_state(st))
    return {
        "states": states,
        "requests": _requests(truth, np.random.default_rng(rng_seed)),
        "final": ref.to_bytes(),
        "truth": truth,
        "kernel_s": kernel_s,
    }


def _reference_answers(states, requests) -> list:
    """Every read answered by a fresh fold of the states merged so far."""
    from heavy_hitters_spark.core.base import unpack_state

    ref, out = template(), []
    for st, seg in zip(states, requests):
        ref.merge(unpack_state(st))
        out.extend(_answer(ref, kind, arg) for kind, arg in seg)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from heavy_hitters_spark.core.base import unpack_state

    from .builds import serde_layer

    gates = common.Gates()
    tracer = common.Tracer(trace)
    layer: dict[str, float] = {}

    with common.RssSampler() as rss:
        setups, first = [], None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("setup"):
                s = _setup(3000 + seed, seed)
            setups.append(time.perf_counter() - t)
            if first is None:
                first = s
            else:
                gates.check(s["states"] == first["states"], "set-up states differ between repetitions")
                gates.check(s["final"] == first["final"], "reference fold differs between repetitions")
        s = first

        lat: dict[str, list[float]] = {k: [] for k in MIX}
        merges = []
        rounds = 0
        cores = sorted(os.sched_getaffinity(0))
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or rounds == 0:
            # Each round runs on the next core, pinned before the round's
            # first timing starts. A lone busy thread otherwise stays on
            # one core for the whole run, and on a shared host each
            # core's speed drifts on its own (see README, Steadiness).
            os.sched_setaffinity(0, {cores[rounds % len(cores)]})
            with tracer.span("round"):
                sk = template()
                answers = []
                for st, seg in zip(s["states"], s["requests"]):
                    t = time.perf_counter()
                    sk.merge(unpack_state(st))
                    merges.append(time.perf_counter() - t)
                    for kind, arg in seg:
                        t = time.perf_counter()
                        answers.append(_answer(sk, kind, arg))
                        lat[kind].append(time.perf_counter() - t)
                gates.check(sk.to_bytes() == s["final"], "served state differs from the reference fold")
            if rounds == 0:
                first_answers = answers
            else:
                for a, b in zip(answers, first_answers):
                    gates.check(_equal(a, b), "answer differs from the first round's")
            rounds += 1
        os.sched_setaffinity(0, cores)
        with tracer.span("verify"):
            kinds = [kind for seg in s["requests"] for kind, _ in seg]
            for kind, a, b in zip(kinds, first_answers, _reference_answers(s["states"], s["requests"])):
                gates.check(_equal(a, b), f"{kind} answer differs from the reference fold's")

    reads = [x for v in lat.values() for x in v]
    busy = sum(reads) + sum(merges)
    p50 = {kind: median(v) for kind, v in lat.items()}
    if trace:
        for kind, v in p50.items():
            layer[f"serve.{kind}_p50_us"] = v * 1e6
        layer.update(serde_layer(s["states"]))
        docs = N_STATES * DOCS_PER_STATE
        layer["fused.kernel_1t_docs_per_s"] = docs / s["kernel_s"]
        layer["input.docs"] = docs
        layer["input.tokens"] = s["truth"].l1
        layer["input.distinct_tokens"] = s["truth"].distinct
    e2e = {
        "setup_s": common.metric(median(setups), "s"),
        # reads and merges per second of service time, over the whole run
        "throughput_per_s": common.metric((len(reads) + len(merges)) / busy, "1/s"),
        # every read class moves it, whatever its share of the reads
        "op_p50_ms": common.metric(math.exp(np.mean(np.log(list(p50.values())))) * 1000.0, "ms"),
        "peak_rss_mb": common.metric(rss.peak, "MB"),
    }
    report = {
        "workload": workload,
        "rounds": rounds,
        "reads": len(reads),
        "serve_qps": len(reads) / busy,
        "serve_p50_us": median(reads) * 1e6,
        "serve_p99_us": np.quantile(reads, 0.99) * 1e6,
        "serve_merge_p50_ms": median(merges) * 1000.0,
        "failures": gates.failures[:10],
    }
    tracer.write(f"{common.WORK}/trace_{workload}.json")
    return {"gates": gates, "e2e": e2e, "layer": layer, "report": report}
