"""The benchmark's workloads, run in one fresh process per run.

Started by ``run.py`` (which sets the environment, samples memory and
prints the result line); not meant to be run by hand. Writes one JSON
object to ``--out``: the end-to-end metrics (untraced run) or the
per-layer metrics (traced run), plus a ``report`` with every metric the
workload measures and its sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import checks
from tracing import SparkStatus, Tracer, union_seconds

N_PAGES = 2000           # corpus size (generate_web_pages rows)
ROWS = 10                # page size of every request
BATCH_QUERIES = 100      # queries per wand_topk_batch request
QF = {"title": 2.0, "body": 1.0}
MF_FIELDS = [("title", 8), ("body", None)]
# select and batch go first, so the timed wand requests (the bounded metric)
# find the scan kernels past their first-call cost
QUERY_CYCLE = ["select", "batch"] + ["wand"] * 10
DELTA_UPSERTS = N_PAGES // 100   # 1% of the corpus re-keyed per generation
DELTA_NEW = 4
DELTA_DELETES = 8
AUTOWARM = 1
BURST = 4                # SearcherManager page requests per generation
CHAIN_READS = 5          # wand_topk reads on the chain per generation

# "build" (the cold build alone, which the other workloads start with) and
# "dismax" are run by hand; BENCHMARK.json lists only "query" and "ingest",
# which fit the time budget of a full set of benchmark runs
WORKLOADS = ["query", "ingest", "build", "dismax"]
# the metrics both workloads measure; run.py adds peak_rss_mb
END_TO_END = ["setup_s", "build_docs_per_s", "index_bytes_per_text_byte",
              "query_p50_ms"]


def med(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One workload run: the session, the corpus, the oracle and the tally
    of attempted and failed operations."""

    def __init__(self, args):
        self.args = args
        self.cpus = args.cpus
        self.work = args.work
        self.tr = Tracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.counts: dict[str, int] = {}
        self.batch_qps: list[float] = []
        self.tie_reorders = 0
        self.req = 0

    # -- bookkeeping ---------------------------------------------------
    def next_req(self) -> int:
        self.req += 1
        return self.req

    def op(self, what: str, fn, check=None):
        """Run one operation; count it, and count it failed when it raises
        or its oracle check (run afterwards, untimed) reports mismatches."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None
        if check is not None:
            try:
                bad = check(result)
            except Exception:
                bad = [f"{what}: check raised {traceback.format_exc(limit=3)}"]
            if bad:
                self.failed += 1
                self.failures.extend(bad)
        return result

    # -- set-up ----------------------------------------------------------
    def start(self):
        from marc_solr_profiling_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        with self.tr.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{self.cpus}]",
                shuffle_partitions=self.cpus, extra_conf=conf)
        sc = self.spark.sparkContext
        # block-skip counters are program instrumentation: traced runs only
        self.acc = sc.accumulator(0) if self.args.trace else None
        self.batch_acc = sc.accumulator(0) if self.args.trace else None
        if self.args.trace:
            self.tr.label_jobs(sc)

    def corpus(self):
        from marc_solr_profiling_spark.corpus import generate_web_pages

        path = os.path.join(self.work, "corpus")
        with self.tr.span("setup.corpus", self.next_req()):
            generate_web_pages(self.spark, N_PAGES, seed=self.args.seed,
                               partitions=self.cpus).write.parquet(path)
        self.pages = self.spark.read.parquet(path)
        with self.tr.span("bench.oracle"):
            rows = self.pages.select("url", "text", "lang").collect()
            self.live = {r["url"]: (r["text"], r["lang"]) for r in rows}
            self.text_bytes = sum(len((t or "").encode("utf-8"))
                                  for t, _ in self.live.values())
            self.set_oracle()

    def set_oracle(self):
        from marc_solr_profiling_spark.oracle import OracleIndex

        self.oracle = OracleIndex(
            [(u, t) for u, (t, _) in self.live.items()], chain="text")
        self.en_urls = {u for u, (_, lang) in self.live.items()
                        if lang == "en"}
        self._topk_cache: dict[str, list] = {}

    def oracle_topk(self, q: str):
        if q not in self._topk_cache:
            self._topk_cache[q] = self.oracle.topk(q, ROWS)
        return self._topk_cache[q]

    def build(self):
        """The cold single-field build every workload starts from."""
        from marc_solr_profiling_spark.plans.build import build_index

        t_wall = time.time()
        with self.tr.span("build", self.next_req()) as s:
            idx = self.op("build", lambda: build_index(
                self.spark, self.pages, os.path.join(self.work, "index"),
                html_col="html", key_col="url", filter_cols=["lang"],
                n_salts=self.cpus))
        if idx is None:
            raise RuntimeError("cold build failed: " + self.failures[-1])
        self.build_wall = (t_wall, t_wall + s.dur)
        self.attempted += 1
        with self.tr.span("bench.check"):
            bad = (checks.stats(idx, self.oracle, "build")
                   + checks.dictionary(idx, self.oracle, "build"))
            self.url_by_id = self.urls_of(idx)
        if bad:
            self.failed += 1
            self.failures.extend(bad)
        self.index = idx
        lin = idx.store.lineage()["stages"]
        self.build_lineage = lin
        idx_bytes = sum(m["bytes"] for m in lin.values())
        self.metrics["build_docs_per_s"] = (N_PAGES / s.dur, "docs/s")
        self.metrics["index_bytes_per_text_byte"] = (
            idx_bytes / self.text_bytes, "ratio")

    @staticmethod
    def urls_of(idx) -> dict[int, str]:
        return {r["doc_id"]: r["url"]
                for r in idx.docs.select("doc_id", "url").collect()}

    def check_chain(self, got, want, query: str, what: str) -> list[str]:
        """Check an answer from a generation chain, where equal scores may
        come in doc-id order, not url order; count the answers where they
        do."""
        bad = checks.ranked_any_tie_order(
            got, want, self.oracle.score_query(query), what)
        if not bad and checks.ranked(got, want, what):
            self.tie_reorders += 1
        return bad

    # -- requests ------------------------------------------------------------
    def wand(self, idx, q: str, chain: bool = False):
        from marc_solr_profiling_spark.operators.wand import wand_topk

        def call():
            with self.tr.span("wand", self.next_req()):
                with self.tr.span("wand.plan"):
                    df = wand_topk(idx, q, k=ROWS, skip_acc=self.acc)
                with self.tr.span("wand.exec"):
                    return df.collect()

        self.counts["wand"] = self.counts.get("wand", 0) + 1
        check = self.check_chain if chain else (
            lambda got, want, _, what: checks.ranked(got, want, what))
        self.op(f"wand {q!r}", call, lambda rows: check(
            [(r["url"], r["score"]) for r in rows], self.oracle_topk(q), q,
            f"wand {q!r}"))

    def select(self, idx, url_by_id, q: str):
        from marc_solr_profiling_spark.plans.select import (
            solr_select_physical,
        )

        def call():
            with self.tr.span("select", self.next_req()):
                with self.tr.span("select.match"):
                    resp = solr_select_physical(
                        idx, None, q, fq=["lang:en"], rows=ROWS,
                        facet_fields=["lang"], round_to=None)
                with self.tr.span("select.page"):
                    page = resp.docs.collect()
                with self.tr.span("select.facet"):
                    facets = resp.facets.collect()
            return resp.num_found, page, facets

        self.counts["select"] = self.counts.get("select", 0) + 1
        self.op(f"select {q!r}", call, lambda r: checks.select_page(
            r[0], r[2], r[1], url_by_id, self.oracle, q, self.en_urls, ROWS,
            f"select {q!r}"))

    def batch(self, idx, url_by_id, queries: list[str]):
        from marc_solr_profiling_spark.operators.wand import wand_topk_batch

        def call():
            with self.tr.span("batch", self.next_req()) as s:
                with self.tr.span("batch.plan"):
                    df = wand_topk_batch(idx, queries, k=ROWS,
                                         skip_acc=self.batch_acc)
                with self.tr.span("batch.exec"):
                    rows = df.collect()
            self.batch_qps.append(len(queries) / s.dur)
            return rows

        def check(rows):
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["qid"], []).append(r)
            bad = []
            for qid, q in enumerate(queries):
                got = [(url_by_id[r["doc_id"]], r["score"])
                       for r in sorted(by_q.get(qid, []),
                                       key=lambda r: r["rank"])]
                bad += checks.ranked(got, self.oracle_topk(q),
                                     f"batch q{qid} {q!r}")
            return bad

        self.counts["batch"] = self.counts.get("batch", 0) + 1
        self.op(f"batch of {len(queries)}", call, check)

    # -- workloads -------------------------------------------------------
    def queries(self):
        from marc_solr_profiling_spark.corpus import generate_query_set

        qs = generate_query_set(200 + BATCH_QUERIES, seed=self.args.seed)
        self.by_kind = [qs[k:200:5] for k in range(5)]
        self.batch_set = qs[200:]

    def loop(self, cycle: list[str], do) -> None:
        """Closed loop, one client: request kinds in ``cycle`` order, each
        sent after the previous one returned, until ``--seconds`` have
        passed at the end of a cycle. ``do(kind, n)`` sends the n-th
        request of that kind."""
        t0 = time.perf_counter()
        while True:
            for kind in cycle:
                do(kind, self.counts.get(kind, 0))
            if time.perf_counter() - t0 >= self.args.seconds:
                return

    def run_query(self):
        """wand_topk over all five query kinds, fq+facet /select and
        wand_topk_batch on a single-generation index, no result cache."""
        def do(kind, n):
            if kind == "wand":
                self.wand(self.index, self.by_kind[n % 5][n // 5])
            elif kind == "select":  # high-df and multi-term queries
                self.select(self.index, self.url_by_id,
                            self.by_kind[2 * (n % 2)][n // 2])
            else:
                self.batch(self.index, self.url_by_id, self.batch_set)

        self.loop(QUERY_CYCLE, do)

    def run_dismax(self):
        """qf dismax /select on a multifield index, each page compared with
        the logical solr_select(qf_fields=...) twin."""
        from pyspark.sql import functions as F

        from marc_solr_profiling_spark.functions.analyzer import tokenize_udf
        from marc_solr_profiling_spark.plans.multifield import (
            build_multifield_index,
        )
        from marc_solr_profiling_spark.plans.select import (
            solr_select,
            solr_select_physical,
        )

        with self.tr.span("setup.mf_build", self.next_req()):
            mf = build_multifield_index(
                self.spark, self.pages, os.path.join(self.work, "mf"),
                fields=MF_FIELDS, key_col="url", chain="text",
                filter_cols=["lang"], n_salts=self.cpus)
        mf_urls = self.urls_of(mf)
        tokens = self.pages.select(
            "url", "lang", tokenize_udf("text")(F.col("text")).alias("tk"),
        ).cache()

        def twin(q):
            lg = solr_select(
                tokens, q, key_col="url", chain="text",
                qf_fields=[(F.slice(F.col("tk"), 1, 8), QF["title"]),
                           (F.col("tk"), QF["body"])],
                tie=0.1, rows=ROWS, round_to=4)
            return lg.num_found, [(r["url"], r["score"], r["rank"])
                                  for r in lg.docs.collect()]

        def dismax(q):
            def call():
                with self.tr.span("dismax", self.next_req()):
                    with self.tr.span("dismax.call"):
                        resp = solr_select_physical(
                            mf, None, q, qf=QF, tie=0.1, rows=ROWS,
                            round_to=4)
                    with self.tr.span("dismax.page"):
                        return resp.num_found, resp.docs.collect()

            def check(r):
                n, want = twin(q)
                got = [(mf_urls[x["doc_id"]], x["score"], x["rank"])
                       for x in sorted(r[1], key=lambda x: x["rank"])]
                bad = []
                if r[0] != n:
                    bad.append(f"dismax {q!r}: numFound {r[0]} != {n}")
                if got != want:
                    bad.append(f"dismax {q!r}: page {got[:3]} != {want[:3]}")
                return bad

            self.counts["dismax"] = self.counts.get("dismax", 0) + 1
            self.op(f"dismax {q!r}", call, check)

        # high-df, low-df and multi-term queries in turn
        self.loop(["dismax"] * 3,
                  lambda _, n: dismax(self.by_kind[(0, 1, 2)[n % 3]][n // 3]))
        tokens.unpersist()
        self.report["dismax_p50_ms"] = (
            1000 * med(self.tr.durations("dismax")), "ms")

    def run_ingest(self):
        """Generations of upserts and deletes: each is appended, published
        through SearcherManager (autowarm), paged through its cache,
        compacted, and then read directly on the compacted chain."""
        import numpy as np

        from marc_solr_profiling_spark.corpus import (
            WEB_PAGES_SCHEMA,
            generate_web_pages,
        )
        from marc_solr_profiling_spark.operators.resultcache import (
            SearcherManager,
        )
        from marc_solr_profiling_spark.plans.generations import (
            append_delta,
            maybe_compact,
        )

        rng = np.random.default_rng(self.args.seed)
        pool_n = 64 + 9  # generator ids < 9 are fixed edge-case texts
        with self.tr.span("setup.delta_pool", self.next_req()):
            fresh = [r for r in generate_web_pages(
                self.spark, pool_n, seed=self.args.seed + 7, partitions=1,
            ).collect() if int(r["url"].rsplit("/", 1)[1]) >= 9]
        page_pool = (self.by_kind[0][:3] + self.by_kind[2][:3]
                     + self.by_kind[1][:2])
        sm = SearcherManager(self.index, autowarm_count=AUTOWARM)
        with self.tr.span("setup.warm", self.next_req()):
            for q in page_pool[:AUTOWARM]:
                sm.search(q, 0, ROWS)

        cur = self.index
        url_by_id = self.url_by_id
        appended, visible, pages_s, miss_s = [], [], [], []
        compact_s, merge_bytes, chain_len, tombstones = [], [], [], []
        warm_runs, commit_s, delta_stages = [], [], []
        hits = misses = 0
        t0 = time.perf_counter()
        g = 0
        while g == 0 or time.perf_counter() - t0 < self.args.seconds:
            live_urls = sorted(self.live)
            chosen = rng.choice(len(live_urls),
                                DELTA_UPSERTS + DELTA_DELETES, replace=False)
            up_urls = [live_urls[i] for i in chosen[:DELTA_UPSERTS]]
            del_urls = [live_urls[i] for i in chosen[DELTA_UPSERTS:]]
            new_urls = [f"https://new{g}.example/p/{j}"
                        for j in range(DELTA_NEW)]
            src = rng.choice(len(fresh), DELTA_UPSERTS + DELTA_NEW,
                             replace=False)
            rows = [(u, fresh[i]["warc_ts"], fresh[i]["html"],
                     fresh[i]["text"], fresh[i]["lang"])
                    for u, i in zip(up_urls + new_urls, src)]
            delta = self.spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
            dels = self.spark.createDataFrame([(u,) for u in del_urls],
                                              "url string")
            out = os.path.join(self.work, f"gen{g}")

            with self.tr.span("generations.append", self.next_req()) as s_app:
                nxt = self.op(f"append gen{g}", lambda: append_delta(
                    self.spark, cur, out, delta_docs=delta,
                    delete_keys=dels, key_col="url", html_col="html"))
            if nxt is None:
                break
            cur = nxt
            appended.append(len(rows) / s_app.dur)
            delta_stages.append(cur.store.lineage()["stages"])
            misses0 = 0
            with self.tr.span("resultcache.commit", self.next_req()) as s_c:
                fresh_searcher = self.op(f"commit gen{g}",
                                         lambda: sm.commit(cur))
            commit_s.append(s_c.dur)
            if fresh_searcher is not None:
                misses0 = fresh_searcher.stats.misses
            warm_runs.append(misses0)

            with self.tr.span("bench.oracle"):
                for u in del_urls:
                    self.live.pop(u, None)
                for r in rows:
                    self.live[r[0]] = (r[3], r[4])
                self.set_oracle()
                url_by_id = self.urls_of(cur)
                chain_len.append(len(cur.stores))
                tombstones.append(cur.n_deletes())

            st = sm.searcher.stats
            for b in range(BURST):
                q = page_pool[int(rng.integers(0, len(page_pool)))]
                start = ROWS * (b % 2)
                before = st.misses

                def call(q=q, start=start):
                    with self.tr.span("ingest.page", self.next_req()) as s:
                        res = sm.search(q, start, ROWS)
                    return s, res

                r = self.op(f"page {q!r}@{start}", call, lambda r, q=q,
                            start=start: self.check_chain(
                                [(url_by_id[d], sc) for d, sc in r[1]],
                                checks.oracle_page(self.oracle, q, start,
                                                   ROWS), q,
                                f"page {q!r}@{start}"))
                if r is None:
                    continue
                pages_s.append(r[0].dur)
                if st.misses > before:
                    miss_s.append(r[0].dur)
                if b == 0:
                    visible.append(s_app.dur + s_c.dur + r[0].dur)
            hits += st.hits
            misses += st.misses - misses0

            with self.tr.span("generations.compact", self.next_req()) as s_m:
                merged = self.op(f"compact gen{g}", lambda: maybe_compact(
                    self.spark, cur, os.path.join(self.work, f"merge{g}"),
                    max_generations=1))
            if merged is not None and merged is not cur:
                compact_s.append(s_m.dur)
                merge_bytes.append(sum(
                    m["bytes"] for m in
                    merged.store.lineage()["stages"].values()))
                cur = merged
                with self.tr.span("bench.oracle"):
                    url_by_id = self.urls_of(cur)

            # reads on the compacted chain double as its check against the
            # oracle rebuilt over the live corpus: one query of each kind
            for j in range(CHAIN_READS):
                self.wand(cur, self.by_kind[j % 5][g + 1], chain=True)
            g += 1

        self.attempted += 1
        bad = checks.stats(cur, self.oracle, "final chain")
        if bad:
            self.failed += 1
            self.failures.extend(bad)

        self.report.update({
            "append_docs_per_s": (med(appended), "docs/s"),
            "visible_p50_s": (med(visible), "s"),
            "ingest_page_p50_ms": (1000 * med(pages_s), "ms"),
            "compact_s": (med(compact_s), "s"),
            "generations": (float(g), "count"),
            "chain_tie_reorders": (float(self.tie_reorders), "count"),
            "merges": (float(len(compact_s)), "count"),
        })
        self.ingest_layers = {
            "generations.append_s": (med(self.tr.durations(
                "generations.append")), "s"),
            "generations.chain_length": (med(chain_len), "count"),
            "generations.tombstones": (med(tombstones), "count"),
            "generations.merge_bytes_rewritten": (med(merge_bytes), "bytes"),
            "resultcache.commit_s": (med(commit_s), "s"),
            "resultcache.autowarm_runs": (med(warm_runs), "count"),
            "resultcache.hit_ratio": (
                hits / (hits + misses) if hits + misses else 0.0, "ratio"),
            "resultcache.evictions": (float(sm.searcher.stats.evictions),
                                      "count"),
            "resultcache.miss_ms": (1000 * med(miss_s), "ms"),
        }
        for stg in ("tf", "segments", "del_segments", "dictionary"):
            self.ingest_layers[f"generations.{stg}_s"] = (med([
                float(m.get(stg, {}).get("duration_sec", 0.0))
                for m in delta_stages]), "s")

    # -- results -----------------------------------------------------------
    def finish(self):
        tr = self.tr
        setup = sum(s.dur for s in tr.spans if s.parent is None and (
            s.name.startswith("setup.") or s.name in ("session.start",
                                                        "build")))
        self.metrics["setup_s"] = (setup, "s")
        wand_ms = sorted(1000 * d for d in tr.durations("wand"))
        if wand_ms:
            self.metrics["query_p50_ms"] = (med(wand_ms), "ms")
        if self.counts.get("select"):
            self.report["select_p50_ms"] = (
                1000 * med(tr.durations("select")), "ms")
        if self.counts.get("batch"):
            self.report["batch_qps"] = (med(self.batch_qps), "queries/s")
        if len(wand_ms) >= 100:  # p90 only with >= 10 samples beyond it
            self.report["query_p90_ms"] = (
                statistics.quantiles(wand_ms, n=10)[-1], "ms")
        self.report["failed_ratio"] = (
            self.failed / max(self.attempted, 1), "ratio")
        for k in ("wand", "select", "dismax", "batch"):
            self.report[f"n_{k}"] = (float(self.counts.get(k, 0)), "count")
        if self.args.trace:
            self.trace_layers()

    def trace_layers(self):
        tr = self.tr
        lin = self.build_lineage
        L = self.layers
        L["session.start_s"] = (tr.durations("session.start")[0], "s")
        for stg in ("tf", "segments", "filters", "docs", "dictionary"):
            m = lin.get(stg, {})
            L[f"lineage.{stg}_s"] = (float(m.get("duration_sec", 0.0)), "s")
            L[f"lineage.{stg}_bytes"] = (float(m.get("bytes", 0)), "bytes")
        t_a, t_b = self.build_wall
        stage_iv = [(max(t_a, m["committed_at"] - m["duration_sec"]),
                     min(t_b, m["committed_at"])) for m in lin.values()]
        L["build.driver_gap_s"] = (
            (t_b - t_a) - union_seconds([iv for iv in stage_iv
                                         if iv[1] > iv[0]]), "s")

        status = SparkStatus(self.spark.sparkContext)
        # the corpus generation starts the Python workers; every later
        # mapInPandas reuses them, so build and query report 0 s start
        L["udf.setup.python_start_s"] = (
            status.python_totals("setup.corpus")["python_start_s"], "s")
        for k, v in status.python_totals("build").items():
            dest = self.report if k == "python_start_s" else L
            dest[f"udf.build.{k}"] = (v, "bytes" if "bytes" in k else "s")
        stb = status.stage_totals("build")
        L["spark.build.shuffle_write_bytes"] = (stb["shuffle_write_bytes"],
                                                "bytes")
        L["spark.build.spill_bytes"] = (stb["spill_bytes"], "bytes")
        un = status.unattributed()
        L["spark.unattributed_stages"] = (un["stages"], "count")
        L["spark.unattributed_stage_s"] = (un["stage_s"], "s")
        if self.counts.get("wand"):
            self.request_layers(status)

        # layers only one workload exercises go to the report
        R = self.report
        if self.args.workload == "query":
            n_b = max(self.counts.get("batch", 0), 1)
            R["batch.plan_ms"] = (1000 * med(tr.durations("batch.plan")),
                                  "ms")
            R["batch.exec_ms"] = (1000 * med(tr.durations("batch.exec")),
                                  "ms")
            R["batch.blocks_skipped"] = (self.batch_acc.value / n_b, "count")
            for part in ("select.match", "select.page", "select.facet"):
                R[f"{part}_ms"] = (1000 * med(tr.durations(part)), "ms")
        elif self.args.workload == "dismax":
            for part in ("dismax.call", "dismax.page"):
                R[f"{part}_ms"] = (1000 * med(tr.durations(part)), "ms")
        elif self.args.workload == "ingest":
            self.report.update(self.ingest_layers)
        os.makedirs(self.args.trace_dir, exist_ok=True)
        tr.dump(os.path.join(
            self.args.trace_dir,
            f"spans-{self.args.workload}-{self.args.seed}.json"),
            origin=tr.spans[0].start)

    def request_layers(self, status):
        """Per-request layer metrics of the wand calls."""
        tr = self.tr
        L = self.layers
        n_w = max(self.counts.get("wand", 0), 1)
        L["wand.plan_ms"] = (1000 * med(tr.durations("wand.plan")), "ms")
        L["wand.exec_ms"] = (1000 * med(tr.durations("wand.exec")), "ms")
        L["wand.blocks_skipped"] = (self.acc.value / n_w, "count")
        for k, v in status.python_totals("wand").items():
            if k.endswith("_s"):
                dest = self.report if k == "python_start_s" else L
                dest[f"udf.wand.{k}"] = (v / n_w, "s")
        stw = status.stage_totals("wand")
        L["spark.wand.tasks"] = (stw["tasks"] / n_w, "count")
        L["spark.wand.shuffle_read_bytes"] = (
            stw["shuffle_read_bytes"] / n_w, "bytes")


    def pin_workers(self):
        """The Python workers must import the package from this checkout."""
        files = set(self.spark.sparkContext.parallelize(
            range(self.cpus), self.cpus).map(
            lambda _: __import__("marc_solr_profiling_spark").__file__
        ).collect())
        bad = [f for f in files if not inside(f, self.args.root)]
        if bad:
            raise RuntimeError(f"Python workers import {bad}, "
                               f"not the package under {self.args.root}")


def inside(path: str, root: str) -> bool:
    root = os.path.realpath(root)
    return os.path.commonpath([os.path.realpath(path), root]) == root


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import marc_solr_profiling_spark as pkg

    if not inside(pkg.__file__, args.root):
        print(f"marc_solr_profiling_spark imported from {pkg.__file__}, "
              f"outside the checkout {args.root}", file=sys.stderr)
        return 2

    run = Run(args)
    run.start()
    run.corpus()
    run.queries()
    run.build()
    if args.workload != "build":
        getattr(run, f"run_{args.workload}")()
    run.finish()
    run.pin_workers()
    chosen = run.layers if args.trace else {
        k: run.metrics[k] for k in END_TO_END if k in run.metrics}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        "report": {k: {"value": v, "unit": u}
                   for k, (v, u) in {**run.metrics, **run.report}.items()},
        "failures": run.failures[:20],
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    # run.py stops the JVM and the Python workers with the process group
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
