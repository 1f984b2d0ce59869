"""The benchmark's workloads: build, search and ingest.

Every workload drives the library's public API from one closed-loop client
(a single thread that waits for each result).  The library gets only the
generated pages frame (``corpus.pages_df_dist``) and the query stream.
Correctness checks run after the timed loop.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from typing import Dict, List, Optional, Sequence, Tuple

from oracle import ORACLE_SHAPES, Oracle, compare_topk
from queries import PERIOD, SHAPES, QueryGen

SETUP_REPS = 2
WARMUP_ROUNDS = 2  # search: untimed rounds of one query per shape before the loop
ORACLE_CHECKS = 4  # distinct Term/Or/And/AndNot queries checked per run

#: defects of the program that a check is expected to expose; a failing
#: check listed here still counts as a failed operation
KNOWN_DEFECTS = {
    "merge_keeps_tombstoned_docs":
        "merge_segments ignores the tombstone table, so the compacted index "
        "still holds the old versions of updated documents",
}


def percentile_with_tail(xs: Sequence[float], min_beyond: int = 10):
    """(value, percentile, samples beyond): the highest whole percentile
    with at least ``min_beyond`` samples above it, or None if none has."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 0, -1):
        i = min(n - 1, int(p / 100.0 * n))
        if n - 1 - i >= min_beyond:
            return xs[i], p, n - 1 - i
    return None


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(suffix))
    return total


def p50(xs: Sequence[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State shared by a workload: session, tracer, work dir, op counts."""

    def __init__(self, spark, tracer, workdir: str, seed: int, cores: int):
        self.spark, self.sc = spark, spark.sparkContext
        self.tracer, self.workdir, self.seed, self.cores = tracer, workdir, seed, cores
        self.attempted = 0
        self.check_s = 0.0
        self.op_seconds: Dict[str, List[float]] = {}
        self.plan_exchanges: List[int] = []  # per search, traced runs only
        self.failures: List[dict] = []
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.workdir, f"{name}-{self._n:03d}")

    def untimed(self, fn):
        """Run a check's work outside timed code; returns fn's result."""
        t0 = time.perf_counter()
        with self.tracer.op("check"):
            out = fn()
        self.check_s += time.perf_counter() - t0
        return out

    def check(self, name: str, fn, known: Optional[str] = None) -> None:
        """Run a correctness check outside timed code; ``fn`` returns a list
        of problems.  A failed check counts as a failed operation; ``known``
        names the KNOWN_DEFECTS entry its failure is the signature of."""
        self.attempted += 1
        problems = self.untimed(fn)
        if problems:
            self.failures.append({"check": name, "problems": problems[:5],
                                  "known_defect": known and {
                                      known: KNOWN_DEFECTS[known]}})

    def timed(self, kind: str, fn, *a, **kw):
        """Run one operation; returns (result, seconds).  An exception ends
        the run: the benchmark then prints no result."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.op(kind):
            out = fn(*a, **kw)
        dt = time.perf_counter() - t0
        self.op_seconds.setdefault(kind, []).append(dt)
        return out, dt

    def search(self, searcher, spec, parser=None):
        """One timed top-10 search, parse included; returns
        ([(uid, score)], seconds)."""
        def one():
            df = searcher.search(to_query(spec, parser), limit=10)
            if self.tracer.enabled:
                with self.tracer.span("plan", "query.planner"):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("execute", "scoring"):
                return df, df.collect()

        (df, rows), dt = self.timed("search", one)
        if self.tracer.enabled:
            self.plan_exchanges.append(
                df._jdf.queryExecution().executedPlan().toString().count("Exchange"))
        return [(r["uid"], r["score"]) for r in rows], dt

    def corpus(self, n_docs: int):
        """The generated pages frame, persisted."""
        from whoosh_reloaded_spark.corpus import pages_df_dist

        with self.tracer.span("pages_df_dist", "corpus"):
            pages = pages_df_dist(self.spark, n_docs, self.cores, seed=self.seed)
            pages = pages.persist()
            pages.count()
        return pages

    def set_up(self, fn) -> Tuple[object, List[float]]:
        """Run the workload's set-up SETUP_REPS times; keep the last result."""
        times, out = [], None
        for _ in range(SETUP_REPS):
            if out is not None:
                self._release(out)
            t0 = time.perf_counter()
            with self.tracer.op("setup"):
                out = fn()
            times.append(time.perf_counter() - t0)
        return out, times

    def rows(self, pages) -> List[Tuple[str, str]]:
        """(url, text) of every generated page, for the oracle."""
        with self.tracer.op("corpus_rows"):
            return [(r["url"], r["text"])
                    for r in pages.select("url", "text").collect()]

    @staticmethod
    def _release(state: dict) -> None:
        for v in state.values():
            if hasattr(v, "unpersist"):
                v.unpersist()


def to_query(spec: Tuple, parser):
    """Benchmark query spec -> engine query (QueryParser.parse for strings)."""
    from whoosh_reloaded_spark.query import (And, AndNot, DisjunctionMax,
                                             FuzzyTerm, Or, Phrase, Prefix,
                                             Term, TermRange, Wildcard)

    shape, a = spec[0], spec[1]
    if shape in ("term", "head_term"):
        return Term(a[0])
    if shape == "or":
        return Or([Term(t) for t in a])
    if shape == "and":
        return And([Term(t) for t in a])
    if shape == "andnot":
        return AndNot(Term(a[0]), Term(spec[2][0]))
    if shape == "phrase":
        return Phrase(list(a))
    if shape == "prefix":
        return Prefix(a[0])
    if shape == "wildcard":
        return Wildcard(a[0])
    if shape == "dismax":
        return DisjunctionMax([Term(t) for t in a])
    if shape == "fuzzy":
        return FuzzyTerm(a[0])
    if shape == "termrange":
        return TermRange(a[0], a[1])
    if shape == "nested":
        return And([Or([Term(t) for t in a]), Term(spec[2][0])])
    if shape == "parsed":
        return parser.parse(a[0])
    raise ValueError(shape)


def oracle_spec(spec: Tuple) -> Optional[Tuple]:
    shape = "term" if spec[0] == "head_term" else spec[0]
    return (shape,) + tuple(spec[1:]) if shape in ORACLE_SHAPES else None


def check_oracle(run: Run, ix, oracle: Oracle, specs: Sequence[Tuple]) -> None:
    """Top-10 of unquantized BM25 against the oracle, outside timed code."""
    from whoosh_reloaded_spark.query import Searcher
    from whoosh_reloaded_spark.scoring import BM25F

    exact = Searcher(ix, BM25F(quantized=False))
    done = []
    for spec in specs:
        o = oracle_spec(spec)
        if o is None or o in done or len(done) >= ORACLE_CHECKS:
            continue
        done.append(o)

        def problems():
            rows = exact.search(to_query(spec, None), limit=10).collect()
            return compare_topk([(r["uid"], r["score"]) for r in rows],
                                oracle.ranked(o))

        run.check(f"oracle:{o}", problems)


def descriptors(oracle: Oracle, docs) -> dict:
    return {"docs": oracle.n,
            "text_bytes": sum(len(t.encode("utf-8")) for _, t in docs),
            "distinct_terms": len(oracle.postings),
            "postings_rows": oracle.postings_rows()}


# ---------------------------------------------------------------- search


SEARCH_DOCS = 2000


def search_workload(run: Run, seconds: float) -> dict:
    """BM25 top-10 searches over an index set-up built, loaded and persisted."""
    import whoosh_reloaded_spark.index.build as wb
    from whoosh_reloaded_spark.query import Searcher
    from whoosh_reloaded_spark.query.parser import QueryParser

    def setup():
        pages = run.corpus(SEARCH_DOCS)
        path = run.path("index")
        wb.save_index(wb.build_index(pages, uid_col="url", text_col="text"), path)
        ix = wb.load_index(run.spark, path)
        ix.persist()
        for t in (ix.postings, ix.docmeta, ix.term_stats):
            t.count()
        return {"ix": ix, "path": path, "pages": pages}

    state, setup_times = run.set_up(setup)
    ix, path, pages = state["ix"], state["path"], state["pages"]
    docs = run.rows(pages)
    pages.unpersist()
    oracle = Oracle(docs)
    gen = QueryGen(docs, oracle.lexicon(), run.seed)
    # warm the query path (JIT, generated code) with WARMUP_ROUNDS searches
    # of each shape on a throwaway Searcher and other terms, so the timed
    # loop runs near steady state with the measured Searcher's caches still
    # empty; the warm-up counts in setup_s
    warm = QueryGen(docs, oracle.lexicon(), run.seed + 1_000_003)
    t0 = time.perf_counter()
    with run.tracer.op("warmup"):
        w = Searcher(ix)
        for shape in SHAPES * WARMUP_ROUNDS:
            w.search(to_query(warm.spec(shape), QueryParser()), limit=10).collect()
    warmup_s = time.perf_counter() - t0
    stream = gen.stream(40 * PERIOD)
    cached_mb = sum(r.memSize() + r.diskSize()
                    for r in run.sc._jsc.sc().getRDDStorageInfo()) / 1e6
    searcher, parser = Searcher(ix), QueryParser()

    results = []  # (spec, repeat, seconds, rows)
    t_loop = time.perf_counter()
    for i, (spec, repeat) in enumerate(stream):
        # stop only between whole periods, so every run times the same
        # shape and repeat mix
        if i and i % PERIOD == 0 and time.perf_counter() - t_loop >= seconds:
            break
        rows, dt = run.search(searcher, spec, parser)
        results.append((spec, repeat, dt, rows))
    loop_s = time.perf_counter() - t_loop

    first: Dict[Tuple, list] = {}
    for spec, _, _, rows in results:
        if spec in first:
            run.check("repeat_identical", lambda: [] if rows == first[spec] else [
                f"{spec}: {rows[:3]} != {first[spec][:3]}"])
        else:
            first[spec] = rows
    check_oracle(run, ix, oracle, [r[0] for r in results])

    lat = [r[2] for r in results]
    tail = percentile_with_tail(lat)
    issued = [r[0] for r in results]
    repeat_share = sum(r[1] for r in results) / len(results)
    info = {
        "search_p50_ms": p50(lat) * 1e3,
        "search_tail_ms": None if tail is None else {
            "value": tail[0] * 1e3, "percentile": tail[1],
            "samples_beyond": tail[2], "samples": len(lat)},
        "search_qps": len(lat) / loop_s,
        "cached_index_mb": cached_mb,
        "repeat_share": repeat_share,
    }
    desc = descriptors(oracle, docs)
    desc.update({
        "shape_mix": {s: sum(1 for x in issued if x[0] == s) for s in SHAPES},
        "repeat_share": repeat_share,
        "expanded_terms": run.untimed(
            lambda: expanded_terms(searcher, parser, issued)),
    })
    return {
        "setup_times": setup_times, "warmup_s": warmup_s,
        "e2e": {"op_p50_ms": p50(lat) * 1e3, "items_per_s": len(lat) / loop_s,
                "index_bytes_per_text_byte": dir_bytes(path) / desc["text_bytes"]},
        "info": info, "descriptors": desc, "loop_s": loop_s,
        "search_results": results, "index_paths": [path],
        "probe": lambda: ix_probe(run, SEARCH_DOCS),
    }


def expanded_terms(searcher, parser, specs) -> Dict[str, Optional[int]]:
    """Terms the engine expanded each multiterm query to during the run, from
    the searcher's expansion cache (no new job).  None: more terms than the
    engine expands on the driver."""
    from whoosh_reloaded_spark.query import (FuzzyTerm, Prefix, TermRange,
                                             Wildcard)

    out = {}
    for spec in dict.fromkeys(specs):
        q = to_query(spec, parser)
        if isinstance(q, (Prefix, Wildcard, FuzzyTerm, TermRange)):
            terms = searcher.expand_terms(q)
            out[str(spec)] = None if terms is None else len(terms)
    return out


def ix_probe(run: Run, n_docs: int) -> Tuple[float, int]:
    """The analysis pass alone: build_index's postings into a no-op sink.
    Returns (seconds, postings rows)."""
    import whoosh_reloaded_spark.index.build as wb

    pages = run.corpus(n_docs)
    ix = wb.build_index(pages, uid_col="url", text_col="text")
    t0 = time.perf_counter()
    with run.tracer.op("invert_probe"):
        ix.postings.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    rows = Oracle(run.rows(pages)).postings_rows()
    pages.unpersist()
    return dt, rows


# ---------------------------------------------------------------- build


BUILD_DOCS = 3000


def build_workload(run: Run, seconds: float) -> dict:
    """Bulk build_index + save_index of the corpus into fresh directories."""
    import whoosh_reloaded_spark.index.build as wb

    def setup():
        pages = run.corpus(BUILD_DOCS)
        wb.save_index(wb.build_index(pages, uid_col="url", text_col="text"),
                      run.path("warmup"))
        return {"pages": pages}

    state, setup_times = run.set_up(setup)
    pages = state["pages"]
    lat, paths = [], []
    t_loop = time.perf_counter()
    while not lat or time.perf_counter() - t_loop < seconds:
        path = run.path("build")
        _, dt = run.timed("build", lambda: wb.save_index(
            wb.build_index(pages, uid_col="url", text_col="text"), path))
        lat.append(dt)
        paths.append(path)
    loop_s = time.perf_counter() - t_loop
    docs = run.rows(pages)
    oracle = Oracle(docs)
    gen = QueryGen(docs, oracle.lexicon(), run.seed)
    check_oracle(run, wb.load_index(run.spark, paths[-1]), oracle,
                 [gen.spec(s) for s in ("term", "or", "and", "andnot")])
    desc = descriptors(oracle, docs)
    return {
        "setup_times": setup_times,
        "e2e": {"op_p50_ms": p50(lat) * 1e3,
                "items_per_s": len(lat) * BUILD_DOCS / loop_s,
                "index_bytes_per_text_byte": dir_bytes(paths[-1]) / desc["text_bytes"]},
        "info": {"build_docs_per_s": BUILD_DOCS / p50(lat)},
        "descriptors": desc, "loop_s": loop_s, "index_paths": paths[-1:],
        "probe": lambda: ix_probe(run, BUILD_DOCS),
    }


# ---------------------------------------------------------------- ingest


INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 200
APPENDS_PER_CYCLE = 3
UPDATE_DOCS = 20
SEARCHES_PER_REFRESH = 1


def ingest_workload(run: Run, seconds: float) -> dict:
    """Near-real-time cycles, repeated for `seconds` (at least one).  A
    cycle: APPENDS_PER_CYCLE appends, each followed by a refreshed live view
    and searches; an update of sampled uids and a refresh; one merge of
    every segment."""
    from pyspark.sql import functions as F

    import whoosh_reloaded_spark.index.checkpoint as wc
    import whoosh_reloaded_spark.index.mutate as wm
    import whoosh_reloaded_spark.index.segments as wseg
    import whoosh_reloaded_spark.streaming.append as wa
    from whoosh_reloaded_spark.query import Searcher

    # enough batches for every cycle that can start within `seconds`
    max_cycles = 1 + int(seconds // 15)
    total = INGEST_BASE_DOCS + max_cycles * APPENDS_PER_CYCLE * INGEST_BATCH_DOCS
    url_no = F.substring("url", 16, 8).cast("long")  # example{i:08d}.test

    def setup():
        pages = run.corpus(total)
        root = run.path("nrt")
        wa.append_batch(pages.where(url_no < INGEST_BASE_DOCS), root)
        return {"pages": pages, "root": root}

    state, setup_times = run.set_up(setup)
    pages, root = state["pages"], state["root"]
    docs = run.rows(pages)
    text_of = dict(docs)
    committed = [u for u, _ in docs if int(u[15:23]) < INGEST_BASE_DOCS]
    gen = QueryGen(docs, Oracle([(u, text_of[u]) for u in committed]).lexicon(),
                   run.seed)
    live = {u: text_of[u] for u in committed}  # uid -> text of its live version
    old_versions: List[Tuple[str, str]] = []  # (uid, text) of updated-away docs
    appends, refreshes, searches, seg_counts = [], [], [], []
    updates, merges, updated = [], [], set()
    text_bytes = sum(len(text_of[u].encode("utf-8")) for u in committed)
    merge_bytes = 0
    next_lo = INGEST_BASE_DOCS

    def refresh():
        """Open the live view and search it; returns (view, searcher)."""
        t0 = time.perf_counter()
        with run.tracer.span("live_view", "index.mutate"):
            view = wm.with_deleted(wc.open_partitioned(run.spark, root),
                                   wm.load_deleted(run.spark, root))
            s = Searcher(view)
        for i in range(SEARCHES_PER_REFRESH):
            _, dt = run.search(s, gen.spec(("term", "or", "and")[len(searches) % 3]))
            searches.append(dt)
            if i == 0:
                refreshes.append(time.perf_counter() - t0)
        seg_counts.append(len(wc.read_manifest(root)))
        return view, s

    t_loop = time.perf_counter()
    while not merges or (time.perf_counter() - t_loop - run.check_s < seconds
                         and len(merges) < max_cycles):
        for _ in range(APPENDS_PER_CYCLE):
            lo, hi = next_lo, next_lo + INGEST_BATCH_DOCS
            batch = pages.where((url_no >= lo) & (url_no < hi))
            _, dt = run.timed("append", wa.append_batch, batch, root)
            appends.append(dt)
            next_lo = hi
            new = [u for u, _ in docs if lo <= int(u[15:23]) < hi]
            committed += new
            live.update((u, text_of[u]) for u in new)
            text_bytes += sum(len(text_of[u].encode("utf-8")) for u in new)
            view, s = refresh()

        token = f"updtok{run.seed}x{len(merges)}"
        chosen = gen.rng.sample([u for u in committed if u not in updated],
                                UPDATE_DOCS)
        updated.update(chosen)
        old_versions += [(u, live[u]) for u in chosen]
        live.update((u, live[u] + " " + token) for u in chosen)
        new_docs = pages.where(F.col("url").isin(chosen)).withColumn(
            "text", F.concat(F.col("text"), F.lit(" " + token)))
        _, dt = run.timed("update", wm.update_documents, run.spark, root,
                          view, new_docs)
        updates.append(dt)
        text_bytes += sum(len(live[u].encode("utf-8")) for u in chosen)
        view, s = refresh()
        check_update(run, view, s, token, chosen)

        seg_paths = [r["segment_path"] for _, r in
                     sorted(wc.read_manifest(root).items())]
        out = run.path("merged")
        merged, dt = run.timed("merge", wseg.merge_segments, run.spark,
                               seg_paths, out)
        merges.append(dt)
        merge_bytes += dir_bytes(out)
        check_merge(run, merged, view, live, old_versions, gen.spec("or"))
    loop_s = time.perf_counter() - t_loop - run.check_s
    with run.tracer.op("stats"):
        tombstones = wm.load_deleted(run.spark, root).count()

    desc = descriptors(Oracle(live.items()), list(live.items()))
    desc.update({"segments_per_refresh": seg_counts, "cycles": len(merges),
                 "batch_docs": INGEST_BATCH_DOCS, "update_docs": UPDATE_DOCS})
    n_new = (len(appends) * INGEST_BATCH_DOCS + len(updates) * UPDATE_DOCS)
    live_bytes = dir_bytes(root)
    return {
        "setup_times": setup_times,
        "e2e": {"op_p50_ms": p50(appends) * 1e3, "items_per_s": n_new / loop_s,
                "index_bytes_per_text_byte": live_bytes / text_bytes},
        "info": {"append_p50_s": p50(appends),
                 "refresh_search_p50_ms": p50(refreshes) * 1e3,
                 "ingest_docs_per_s": n_new / loop_s,
                 "merge_s": p50(merges), "update_s": p50(updates),
                 "search_p50_ms": p50(searches) * 1e3},
        "descriptors": desc, "loop_s": loop_s, "index_paths": [root],
        "probe": lambda: ix_probe(run, INGEST_BATCH_DOCS),
        "layer": {"segments.count": seg_counts[-1],
                  "mutate.tombstones": tombstones,
                  "segments.merge_rewritten_mb": merge_bytes / 1e6 / len(merges),
                  "ingest.write_amp": (live_bytes + merge_bytes) / text_bytes},
    }


def check_update(run: Run, view, searcher, token: str, chosen: List[str]) -> None:
    """Updated docs are found by their new token; old versions are gone."""
    from pyspark.sql import functions as F
    from whoosh_reloaded_spark.query import Term

    def update_visible():
        hit = {r["uid"] for r in
               searcher.search(Term(token), limit=2 * len(chosen)).collect()}
        return [] if hit == set(chosen) else [
            f"{len(hit & set(chosen))}/{len(chosen)} updated docs found, "
            f"{len(hit - set(chosen))} others"]

    def old_versions_absent():
        n = view.docmeta.where(F.col("uid").isin(chosen)).count()
        return [] if n == len(chosen) else [
            f"{n} live rows for {len(chosen)} updated uids"]

    run.check("update_visible", update_visible)
    run.check("old_versions_absent", old_versions_absent)


def merge_state(merged_uids: Counter, live_uids: Counter,
                old_uids: Counter) -> str:
    """"ok" when the compacted index holds every live uid once and nothing
    else; "defect" when it holds exactly that plus every tombstoned old
    version (the signature of merge_keeps_tombstoned_docs); else "other"."""
    if merged_uids == live_uids:
        return "ok"
    if old_uids and merged_uids == live_uids + old_uids:
        return "defect"
    return "other"


def check_merge(run: Run, merged, view, live: Dict[str, str],
                old_versions: List[Tuple[str, str]], spec: Tuple) -> None:
    """The compacted index must hold exactly the live docs and return the
    live view's top-10.  A failure counts as the known defect only with its
    exact signature; the compacted index's own top-10 must then still match
    the oracle over the docs it holds, live and old versions alike."""
    from whoosh_reloaded_spark.query import Searcher
    from whoosh_reloaded_spark.scoring import BM25F

    exact = BM25F(quantized=False)
    q = to_query(spec, None)

    def top10(ix):
        return [(r["uid"], r["score"]) for r in
                Searcher(ix, exact).search(q, limit=10).collect()]

    merged_uids = run.untimed(lambda: Counter(
        r["uid"] for r in merged.docmeta.select("uid").collect()))
    state = merge_state(merged_uids, Counter(list(live)),
                        Counter(u for u, _ in old_versions))

    def matches_live_view():
        problems = [] if state == "ok" else [
            f"merged has {sum(merged_uids.values())} docs / {len(merged_uids)} "
            f"uids, live view {len(live)}"]
        return problems + [f"vs live view: {p}" for p in
                           compare_topk(top10(merged), top10(view))]

    def matches_oracle():
        held = list(live.items()) + (old_versions if state == "defect" else [])
        return compare_topk(top10(merged), Oracle(held).ranked(spec))

    run.check("merge_matches_live_view", matches_live_view,
              known="merge_keeps_tombstoned_docs" if state == "defect" else None)
    run.check("merge_matches_oracle", matches_oracle)


WORKLOADS = {"build": build_workload, "search": search_workload,
             "ingest": ingest_workload}
