"""The benchmark's workloads. Each drives the engine's public API from
one client thread on a ``local[4]`` Spark session, checks the results
outside its timed region, and returns its metrics.

Both workloads time the same op, a result page through the REPL's
default driver-local path (``search_local(q, mode)``, top 10), on a
1,500-doc corpus:

interactive  pages on one ``QueryEngine`` over a Zipf-repeating query
             stream, so about a third of the pages repeat an earlier
             query.
             Its checks re-serve one sampled query through the Spark
             page (``search`` + ``collect`` + ``snippets``), which must
             rank like its driver-local page did, and 4 sampled
             queries per mode through one float64 ``batch_search``
             each, which must match the DuckDB oracle.
upsert       pages over distinct queries (none repeats) on the index
             that ``upsert_docs`` writes, after set-up has built a base
             index, tombstoned a 1% slice (``delete_by_urls``) and
             upserted another 1% slice, which tombstones the old
             versions in the base too. Its checks re-serve a sample
             through ``MultiIndexQueryEngine([tombstoned base,
             delta])``, which must rank like the merged index under
             the same stale statistics, then ``compact_index`` the
             tombstoned base and require ``check_index(deep=True)`` to
             find no violation in it and its urls to be exactly the
             base's live ones.

Both report the same end-to-end metrics (``Context.e2e``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from checks import Oracle, same_ranking, same_topk, self_test
from spans import Recorder, attribute_jobs, event_log_conf, jvm_peak_rss_mb

DRIVER_MEM = "3g"  # pinned driver heap; local mode runs executors in it

N_DOCS = 1000  # corpus size of both workloads
QUERY_POOL = 4000  # distinct queries the interactive stream draws from
STREAM_LEN = 20000  # upper bound on interactive pages per run
DISTINCT_LEN = 8000  # upper bound on upsert pages (distinct queries) per run
BATCH_SIZE = 4  # sampled queries per batch_search call (interactive)
UPDATE_FRAC = 0.01  # share of the corpus in each write slice (upsert)
LSM_SAMPLE = 4  # page queries re-served through the unmerged stack

CODEC_SAMPLE = 2000  # chunk payloads decoded/re-encoded per traced run

# op types whose spans the traced run reports, per call: Spark jobs,
# executor CPU and shuffle written (from the event log) and py4j round
# trips. "check" spans hold the result checks, so their jobs stay out of
# the others. Driver-only ops submit no Spark job, and the NO_SHUFFLE
# ops write no shuffle data, so those counters are left out for them.
OPS = (
    "session", "load", "build", "open", "search", "collect", "snippets",
    "local", "batch_call", "batch_collect", "delete", "upsert", "lsm_open",
    "lsm_local", "compact", "check",
)
DRIVER_ONLY = ("session", "local")
NO_SHUFFLE = ("load", "open", "search", "batch_call", "lsm_local")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _text_bytes(corpus: str) -> int:
    col = pads.dataset(os.path.join(corpus, "documents.parquet")).to_table(
        columns=["n_chars"]
    ).column("n_chars")
    return int(pc.sum(col).as_py())


def _mode(conj: bool) -> str:
    return "conjunctive" if conj else "disjunctive"


def conj_schedule(n: int) -> list[bool]:
    """Which of ``n`` consecutive queries are conjunctive: a fixed 3 in
    10 pattern, so short runs keep the same mode mix."""
    return [(i % 10) in (2, 5, 8) for i in range(n)]


class Context:
    """One benchmark run: its directories, the Spark session, the span
    recorder and the failure tally."""

    def __init__(self, seed: int, seconds: int, trace: bool, work_dir: str,
                 run_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.run_dir = run_dir
        self.rec = Recorder()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.peak_rss_mb = 0.0
        self.jobs: dict = {}
        self.report: dict = {}
        self._self_tested = False

    # ------------------------------------------------------ session

    def start(self) -> None:
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            conf.update(event_log_conf(os.path.join(self.run_dir, "events")))
            self.rec.count_py4j()
        from search_engine_spark.runtime import get_spark

        with self.rec.span("session"):
            self.spark = get_spark(master="local[4]", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark, end the gateway JVM and wait for it, then (traced
        run) attribute the event log's jobs to the recorded spans."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.peak_rss_mb = jvm_peak_rss_mb(self.spark)
        finally:
            self.spark.stop()
            self.spark = None
            self.rec.stop_counting()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
        if self.trace:
            self.jobs = attribute_jobs(
                os.path.join(self.run_dir, "events"), self.rec.spans
            )

    # ------------------------------------------------------ helpers

    def op(self, fn) -> bool:
        """Run one measured op; an exception counts as a failure."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 - a failed op is data, not fatal
            _log(traceback.format_exc())
            ok = False
        if not ok:
            self.failed += 1
        return ok

    def fail(self, what: str) -> None:
        """A check failure; it counts against the op it checked."""
        _log(f"check failed: {what}")
        self.failed += 1

    def build(self, corpus: str, index_dir: str) -> dict:
        """Session, corpus load and a cold index build; returns the
        build manifest."""
        from search_engine_spark.build import IndexBuilder
        from search_engine_spark.corpus import load_documents

        self.start()
        with self.rec.span("load"):
            docs = load_documents(self.spark, corpus)
        # the CLI's default: no exploded postings stage for a
        # non-positional index
        with self.rec.span("build"):
            return IndexBuilder(
                self.spark, index_dir, materialize_postings=False
            ).build(docs)

    def setup_s(self) -> float:
        """Wall time from session start to the end of the warm op."""
        first = {}
        for name, w0, w1, _d in self.rec.spans:
            first.setdefault(name, (w0, w1))
        return first["warm"][1] - first["session"][0]

    def oracle_check(self, oracle: Oracle, q: str, conj: bool, got) -> None:
        """The engine's float64 top-10 ``got``, as (doc_id, score) rows,
        must equal the DuckDB oracle's. Self-tests on the run's first
        call."""
        want = oracle.topk(q, conj)
        if not self._self_tested:
            self._self_tested = True
            if not self_test(want):
                self.fail("oracle comparison self-test")
        if not same_topk(got, want):
            self.fail(f"oracle mismatch for {_mode(conj)} {q!r}")

    # ------------------------------------------------------ metrics

    def e2e(self, op_s: list[float], items_per_s: float,
            index_bytes_ratio: float) -> dict:
        self.report.update(
            ops=len(op_s),
            op_mean_ms=1000 * statistics.fmean(op_s),
            peak_rss_mb=self.peak_rss_mb,
        )
        return {
            "setup_s": (self.setup_s(), "s"),
            "op_p50_ms": (1000 * _median(op_s), "ms"),
            "items_per_s": (items_per_s, "1/s"),
            "index_bytes_ratio": (index_bytes_ratio, "ratio"),
        }

    def layer_metrics(self, manifest: dict, index_dir: str) -> dict:
        rec = self.rec
        stages = manifest["stages"]
        ds = _chunks(index_dir)
        n_col = ds.to_table(columns=["n"]).column("n")
        postings = int(pc.sum(n_col).as_py())
        m: dict[str, tuple[float, str]] = {
            "runtime.session_s": (rec.seconds("session")[0], "s"),
            "runtime.jvm_peak_rss_mb": (self.peak_rss_mb, "MB"),
            "build.tokens_s": (stages["tokens"]["seconds"], "s"),
            "build.stats_s": (stages["stats"]["seconds"], "s"),
            "build.chunks_s": (stages["chunks"]["seconds"], "s"),
            "build.lexicon_s": (stages["lexicon"]["seconds"], "s"),
            "build.postings_per_chunk": (postings / len(n_col), "count"),
            "build.chunk_bytes_per_posting": (
                stages["chunks"]["bytes"] / postings, "bytes"
            ),
        }
        dec, enc, same = codec_rates(ds, self.seed)
        if not same:
            self.fail("codec roundtrip changed a stored chunk payload")
        m["codecs.decode_mpostings_per_s"] = (dec, "M/s")
        m["codecs.encode_mpostings_per_s"] = (enc, "M/s")
        for name, span in (
            ("query.search_call_ms", "search"),
            ("query.collect_ms", "collect"),
            ("query.snippets_ms", "snippets"),
            ("query.local_ms", "local"),
            ("query.lsm_local_ms", "lsm_local"),
        ):
            m[name] = (1000 * _median(rec.seconds(span)), "ms")
        for name, span in (
            ("query.batch_call_s", "batch_call"),
            ("query.batch_collect_s", "batch_collect"),
            ("maintenance.delete_s", "delete"),
            ("maintenance.upsert_s", "upsert"),
            ("maintenance.compact_s", "compact"),
        ):
            m[name] = (_median(rec.seconds(span)), "s")
        m["query.lsm_segments"] = (self.report.get("lsm_segments", 0), "count")
        m["maintenance.upsert_bytes_written_per_doc_byte"] = (
            self.report.get("upsert_bytes_per_doc_byte", 0.0), "ratio"
        )
        m["maintenance.compact_bytes_written"] = (
            self.report.get("compact_bytes", 0), "bytes"
        )
        for op in OPS:
            calls = max(1, rec.calls(op))
            j = self.jobs.get(op, {})
            if op not in DRIVER_ONLY:
                m[f"spark.jobs.{op}"] = (j.get("jobs", 0) / calls, "count")
                m[f"spark.executor_cpu_s.{op}"] = (
                    j.get("cpu_s", 0.0) / calls, "s"
                )
            if op not in DRIVER_ONLY + NO_SHUFFLE:
                m[f"spark.shuffle_mb.{op}"] = (
                    j.get("shuffle_mb", 0.0) / calls, "MB"
                )
            m[f"py4j.calls.{op}"] = (rec.py4j.get(op, 0) / calls, "count")
        m["spark.jobs.unattributed"] = (
            self.jobs.get("unattributed", {}).get("jobs", 0), "count"
        )
        return m

    def finish(self, manifest: dict, index_dir: str, e2e: dict) -> dict:
        self.report.update(_descriptors(manifest, index_dir))
        layers = self.layer_metrics(manifest, index_dir) if self.trace else {}
        return {"e2e": e2e, "layers": layers}


def _chunks(index_dir: str):
    return pads.dataset(os.path.join(index_dir, "chunks"), format="parquet",
                        partitioning="hive")


def codec_rates(ds, seed: int) -> tuple[float, float, bool]:
    """Decode then batch re-encode a seeded sample of the index's chunk
    payloads: (decode, encode) in millions of postings per second, and
    whether the re-encoded payloads equal the stored ones."""
    from search_engine_spark import codecs

    tbl = ds.to_table(columns=["codec", "payload"])
    rng = np.random.default_rng([seed, 31])
    take = np.sort(rng.choice(tbl.num_rows, min(CODEC_SAMPLE, tbl.num_rows),
                              replace=False))
    tbl = tbl.take(take)
    payloads = tbl.column("payload").to_pylist()
    cods = tbl.column("codec").to_pylist()
    t0 = time.perf_counter()
    decoded = [codecs.decode_chunk(p, c) for p, c in zip(payloads, cods)]
    t_dec = time.perf_counter() - t0
    n_post = sum(len(ids) for ids, _ in decoded)
    ids = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    starts = np.cumsum([0] + [len(d[0]) for d in decoded[:-1]])
    t0 = time.perf_counter()
    _codec_ids, again = codecs.encode_chunk_batch(ids, tfs, starts)
    t_enc = time.perf_counter() - t0
    return n_post / t_dec / 1e6, n_post / t_enc / 1e6, again == payloads


def chunk_rows_touched(index_dir: str, queries) -> int:
    """Chunk rows (term, salt, chunk_seq) of every term in ``queries``:
    an upper bound on the distinct chunks the driver-local path can
    decode, and so on what its decoded-chunk cache must hold."""
    from search_engine_spark.tokenizer import tokenize_query

    terms = sorted({t for q in queries for t in tokenize_query(q)})
    return _chunks(index_dir).to_table(
        columns=["term"], filter=pc.field("term").isin(terms)
    ).num_rows


def _descriptors(manifest: dict, index_dir: str) -> dict:
    return {
        "docs": manifest["stages"]["tokens"]["rows"],
        "postings": int(
            pc.sum(_chunks(index_dir).to_table(columns=["n"]).column("n"))
            .as_py()
        ),
        "chunk_rows": manifest["stages"]["chunks"]["rows"],
        "distinct_terms": manifest["stages"]["lexicon"]["rows"],
    }


def _warm_query(seed: int) -> str:
    return gen.distinct_queries(seed, 2, salt=99)[1]


def _pages(ctx: Context, engine, index_dir: str, stream: list[str]):
    """The timed closed loop of driver-local result pages over
    ``stream``. Returns ({(query, conjunctive): doc ids in rank order},
    the keys in a seeded random order, pages per second); the page
    latencies are the ``local`` spans."""
    conj = conj_schedule(len(stream))
    rec = ctx.rec
    pages: dict[tuple[str, bool], list[int]] = {}

    def page(q: str, c: bool) -> bool:
        with rec.span("local"):
            rows = engine.search_local(q, mode=_mode(c), k=10)
        pages[(q, c)] = [d for d, _ in rows]
        return True

    t0 = time.perf_counter()
    i = 0
    while i == 0 or (time.perf_counter() - t0 < ctx.seconds
                     and i < len(stream)):
        ctx.op(lambda: page(stream[i], conj[i]))
        i += 1
    elapsed = time.perf_counter() - t0

    executed = [f"{stream[j]}|{conj[j]}" for j in range(i)]
    ctx.report.update(
        pages=i,
        distinct_queries=len(pages),
        repeat_share=gen.repeat_share(executed),
        op_p90_ms=1000 * float(np.percentile(rec.seconds("local"), 90)),
        chunk_rows_touched=chunk_rows_touched(
            index_dir, {stream[j] for j in range(i)}
        ),
    )
    keys = sorted(pages)
    order = np.random.default_rng([ctx.seed, 13]).permutation(len(keys))
    return pages, [keys[j] for j in order], i / elapsed


# ================================================================ interactive


def interactive(ctx: Context) -> dict:
    from search_engine_spark.query import QueryEngine

    rec = ctx.rec
    corpus = gen.corpus_dir(ctx.work_dir, ctx.seed, N_DOCS)
    index_dir = os.path.join(ctx.run_dir, "index")
    manifest = ctx.build(corpus, index_dir)
    with rec.span("open"):
        qe = QueryEngine(ctx.spark, index_dir)
    warm_q = _warm_query(ctx.seed)
    with rec.span("warm"):
        qe.search_local(warm_q, k=10)
    pool = gen.distinct_queries(ctx.seed, QUERY_POOL)
    stream = gen.zipf_stream(ctx.seed, pool, STREAM_LEN)
    pages, keys, rate = _pages(ctx, qe, index_dir, stream)

    # the REPL's page with snippets (the Spark path) must rank like the
    # driver-local page did
    q, c = keys[0]
    with rec.span("search"):
        topk = qe.search(q, mode=_mode(c), k=10)
    with rec.span("collect"):
        ids = [r["doc_id"] for r in topk.collect()]
    with rec.span("snippets"):
        snips = qe.snippets(q, topk).collect()
    if not same_ranking(ids, pages[(q, c)]):
        ctx.fail(f"search/search_local mismatch {_mode(c)} {q!r}")
    if sorted(r["doc_id"] for r in snips) != sorted(ids):
        ctx.fail(f"snippets lost or added docs {_mode(c)} {q!r}")
    ctx.report.update(
        spark_search_ms=1000 * (rec.seconds("search")[0]
                                + rec.seconds("collect")[0]),
        spark_snippets_ms=1000 * rec.seconds("snippets")[0],
    )

    # one float64 batch_search per mode; every query must match DuckDB
    oracle = Oracle(os.path.join(corpus, "documents.parquet"))
    for c in (False, True):
        qs = [q for q, cc in keys if cc == c][:BATCH_SIZE]
        with rec.span("batch_call"):
            df = qe.batch_search(list(enumerate(qs)), mode=_mode(c), k=10,
                                 dtype=np.float64)
        with rec.span("batch_collect"):
            rows = df.collect()
        with rec.span("check"):
            for qid, q in enumerate(qs):
                got = [(r["doc_id"], r["score"]) for r in rows
                       if r["query_id"] == qid]
                ctx.oracle_check(oracle, q, c, got)
    oracle.close()
    qe.close()
    ctx.stop()

    e2e = ctx.e2e(rec.seconds("local"), rate,
                  _dir_bytes(index_dir) / _text_bytes(corpus))
    return ctx.finish(manifest, index_dir, e2e)


# ===================================================================== upsert


def upsert(ctx: Context) -> dict:
    from search_engine_spark import maintenance
    from search_engine_spark.build import read_stage_parquet
    from search_engine_spark.query import QueryEngine

    rec = ctx.rec
    corpus = gen.corpus_dir(ctx.work_dir, ctx.seed, N_DOCS)
    docs = pq.read_table(os.path.join(corpus, "documents.parquet"),
                         columns=["doc_id", "text", "source"]).to_pandas()
    urls = [f"https://{s}/doc/{d}" for s, d in zip(docs.source, docs.doc_id)]
    dele, ups = gen.update_slices(ctx.seed, N_DOCS, UPDATE_FRAC)
    texts = gen.upsert_texts(ctx.seed, len(ups))
    # the base's live docs once both slices are tombstoned: url -> text
    live = dict(zip(urls, docs.text))
    for i in (*dele, *ups):
        del live[urls[i]]
    base, merged, delta, compacted = (
        os.path.join(ctx.run_dir, d)
        for d in ("base", "merged", "delta", "compacted")
    )

    manifest = ctx.build(corpus, base)
    new = ctx.spark.createDataFrame(
        [(urls[i], t) for i, t in zip(ups, texts)], "url string, text string"
    )

    def write() -> bool:
        with rec.span("delete"):
            maintenance.delete_by_urls(
                ctx.spark, base, [urls[i] for i in dele]
            )
        del_bytes = _dir_bytes(os.path.join(base, "deletes"))
        with rec.span("upsert"):
            maintenance.upsert_docs(ctx.spark, base, new, merged,
                                    delta_dir=delta)
        ctx.report["upsert_bytes_per_doc_byte"] = (
            _dir_bytes(merged) + _dir_bytes(delta)
            + _dir_bytes(os.path.join(base, "deletes")) - del_bytes
        ) / sum(len(t) for t in texts)
        return True

    ctx.op(write)
    with rec.span("open"):
        qe = QueryEngine(ctx.spark, merged)
    with rec.span("warm"):
        qe.search_local(_warm_query(ctx.seed), k=10)
    stream = gen.distinct_queries(ctx.seed, DISTINCT_LEN, salt=5)
    _, keys, rate = _pages(ctx, qe, merged, stream)
    qe.close()

    _lsm_pages(ctx, keys[:LSM_SAMPLE], [base, delta], merged)

    def compact() -> bool:
        with rec.span("compact"):
            maintenance.compact_index(ctx.spark, base, compacted)
        return True

    ctx.op(compact)

    with rec.span("check"):
        bad = [
            tuple(x) for x in
            maintenance.check_index(ctx.spark, compacted, deep=True).collect()
            if x["n_violations"]
        ]
        if bad:
            ctx.fail(f"check_index violations {bad}")
        dt = read_stage_parquet(
            ctx.spark, os.path.join(compacted, "doc_table"), "doc_table"
        ).select("doc_id", "url").toPandas()
        if sorted(dt.url) != sorted(live):
            ctx.fail("compacted base does not hold exactly its live urls")
    ctx.stop()

    compact_bytes = _dir_bytes(compacted)
    ctx.report.update(
        delete_s=rec.seconds("delete")[0],
        upsert_s=rec.seconds("upsert")[0],
        compact_s=rec.seconds("compact")[0],
        lsm_local_p50_ms=1000 * _median(rec.seconds("lsm_local")),
        compact_bytes=compact_bytes,
    )
    e2e = ctx.e2e(rec.seconds("local"), rate,
                  compact_bytes / sum(len(t) for t in live.values()))
    return ctx.finish(manifest, base, e2e)


def _lexicon_df(index_dir: str, terms: list[str]) -> dict[str, int]:
    t = pads.dataset(
        os.path.join(index_dir, "lexicon"), format="parquet",
        partitioning="hive",
    ).to_table(columns=["term", "df"], filter=pc.field("term").isin(terms))
    return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))


def _lsm_pages(ctx: Context, keys, segments: list[str], merged: str) -> None:
    """Serve ``keys`` through ``MultiIndexQueryEngine(segments)``, the
    unmerged [tombstoned base, delta] stack (``lsm_local`` spans). Each
    must return the same (doc id, score) rows, in the same order, as
    the index ``upsert_docs`` merged from the same segments (same live
    docs, same stacked ids) does when that index scores with the
    stack's stale statistics, read here from the segments' own stats
    and lexicon files: N and per-term df summed, avgdl weighted by N,
    tombstoned docs included. With fresh
    statistics, the merged index's own pages may differ from the
    stack's in near-ties, so they are not compared. A conjunctive
    query with a term that only tombstoned docs hold is skipped: the
    stack still requires the term, the merged lexicon no longer has
    it."""
    from search_engine_spark.query import MultiIndexQueryEngine, QueryEngine
    from search_engine_spark.tokenizer import tokenize_query

    rec = ctx.rec
    with rec.span("lsm_open"):
        mq = MultiIndexQueryEngine(ctx.spark, segments)
    ctx.report["lsm_segments"] = len(mq.engines)
    stack = {}
    for q, c in keys:
        with rec.span("lsm_local"):
            stack[(q, c)] = mq.search_local(q, mode=_mode(c), k=10)
    mq.close()

    with rec.span("check"):
        stats = [
            pads.dataset(os.path.join(seg, "stats"), format="parquet")
            .to_table(columns=["n_docs", "avgdl"]).to_pylist()[0]
            for seg in segments
        ]
        n_docs = sum(st["n_docs"] for st in stats)
        avgdl = sum(st["n_docs"] * st["avgdl"] for st in stats) / n_docs
        terms = sorted({t for q, _c in keys for t in tokenize_query(q)})
        df: dict[str, int] = {}
        for seg in segments:
            for t, n in _lexicon_df(seg, terms).items():
                df[t] = df.get(t, 0) + n
        live_terms = set(_lexicon_df(merged, terms))
        me = QueryEngine(ctx.spark, merged, stats_override={
            "n_docs": n_docs, "avgdl": avgdl, "df": df,
        })
        for (q, c), rows in stack.items():
            if c and any(t in df and t not in live_terms
                         for t in tokenize_query(q)):
                continue
            if me.search_local(q, mode=_mode(c), k=10) != rows:
                ctx.fail(f"merged/multi-segment mismatch {_mode(c)} {q!r}")
        me.close()


WORKLOADS = {"interactive": interactive, "upsert": upsert}
