"""Self-test of the benchmark.

    python3 perfbench/selftest.py      (from the root of a checkout)

1. The oracle comparator accepts the oracle's own top-10 and flags every
   deliberately perturbed copy of it.
2. The merge check excuses a failure as the known defect only when the
   compacted index holds exactly the live docs plus the old versions.
3. Every workload runs end to end at a few hundred documents and prints the
   metric set that ``BENCHMARK.json`` names: the end-to-end metrics untraced,
   the per-layer metrics traced.

Exits 0 when every test passes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from oracle import Oracle, compare_topk, tokens  # noqa: E402

SMALL = {"SEARCH_DOCS": 300, "BUILD_DOCS": 300, "INGEST_BASE_DOCS": 200,
         "INGEST_BATCH_DOCS": 100, "UPDATE_DOCS": 5, "SETUP_REPS": 1,
         "WARMUP_ROUNDS": 1}
RUNS = [("build", 0), ("search", 1), ("ingest", 1), ("search", 0)]


def test_tokens() -> None:
    assert tokens("Straße café naïve CafÉ ÜBER über") == [
        "straße", "café", "naïve", "café", "über", "über"]
    assert tokens("hi there 3.141 big-time under_score x*y a.b.c trailing.") == [
        "hi", "there", "3.141", "big", "time", "under_score", "x*y", "a.b.c",
        "trailing"]


def test_comparator() -> None:
    docs = [(f"u{i:03d}", " ".join(["alpha"] * (1 + i % 4) + ["bravo"] * (i % 3)
                                   + ["charlie"] * (i % 5)))
            for i in range(40)]
    o = Oracle(docs)
    ranked = o.ranked(("or", ("alpha", "bravo")))
    top = ranked[:10]
    assert compare_topk(top, ranked) == [], "oracle top-10 must pass"
    absent = next(u for u, _ in o.ranked(("term", ("charlie",)))
                  if u not in dict(ranked[:10]))
    perturbed = {
        "score": [(u, s + 1e-6 if i == 3 else s) for i, (u, s) in enumerate(top)],
        "uid": [(absent if i == 9 else u, s) for i, (u, s) in enumerate(top)],
        "dropped": top[:9],
        "duplicate": top[:9] + [top[0]],
        "order": [top[-1]] + top[:-1],
    }
    for name, rows in perturbed.items():
        assert compare_topk(rows, ranked), f"comparator missed the {name} perturbation"
    nomatch = [("zz-not-a-doc", s) for _, s in top]
    assert compare_topk(nomatch, ranked), "comparator missed non-matching uids"
    # an index holding an old and a new version of a uid
    both = docs + [("u006", "charlie charlie")]
    ranked2 = Oracle(both).ranked(("term", ("charlie",)))
    assert [u for u, _ in ranked2].count("u006") == 2
    assert compare_topk(ranked2[:10], ranked2) == []
    once = [(u, s) for u, s in ranked2 if u != "u006"]
    twice = [r for r in ranked2 if r[0] == "u006"]
    assert compare_topk([twice[0], twice[0]] + once[:8], ranked2), (
        "comparator missed a version returned twice")


def test_merge_state() -> None:
    from collections import Counter

    from workloads import merge_state

    live = Counter(["a", "b", "c", "d"])
    old = Counter(["b", "c"])
    cases = {
        "ok": live,
        "defect": live + old,
        "other": [live - Counter(["a"]),  # a live doc dropped
                  live + Counter(["b"]),  # one old version of two kept
                  live + old + Counter(["z"]),  # a stranger
                  live - Counter(["a"]) + old + Counter(["b"])],
    }
    for want, merged in cases.items():
        for m in (merged if isinstance(merged, list) else [merged]):
            got = merge_state(m, live, old)
            assert got == want, (dict(m), got, want)
    assert merge_state(live, live, Counter()) == "ok"


def test_workloads() -> None:
    import run
    import workloads

    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    for k, v in SMALL.items():
        setattr(workloads, k, v)
    for workload, traced in RUNS:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", workload, "--seed", "3",
                           "--seconds", "1", "--trace", str(traced)])
        assert rc == 0, f"{workload}: exit {rc}"
        lines = out.getvalue().strip().splitlines()
        last = json.loads(lines[-1])
        report = json.loads(lines[-2])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert set(last["metrics"]) == want[traced], (
            workload, set(last["metrics"]) ^ want[traced])
        assert last["correct"], (workload, report["failures"])
        assert all(f["known_defect"] for f in report["failures"]), report["failures"]
        if not traced:
            assert all(v["value"] > 0 for v in last["metrics"].values()), last
        print(f"ok  {workload} trace={traced}: attempted {last['attempted']}, "
              f"failed {last['failed']}", flush=True)


def main() -> int:
    test_tokens()
    test_comparator()
    test_merge_state()
    print("ok  tokenizer, comparator and merge check", flush=True)
    test_workloads()
    return 0


if __name__ == "__main__":
    sys.exit(main())
