"""The benchmark's workloads: ``ingest`` and ``search``.

Each workload has a set-up, a measured closed loop driven through the
package's public functions, and correctness gates that run outside the
timed region.  ``measure`` returns the end-to-end values; with a tracer it
also leaves spans behind, from which ``layers`` derives per-layer metrics.

``ingest`` is the write path: a ``runner.run_once`` refresh pass, then the
curation ladder (``pipeline.curate_corpus``).  ``search`` is the read path:
search requests, then the registry's headline queries.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import types
from contextlib import nullcontext

from perfbench import gen
from perfbench.spans import Tracer

NLIST = 32  # IVF cells: ~20-30 vectors per cell on these corpora
K = 4  # the reference config's search `limit`
NPROBE = NLIST // 8
Q169 = "q169_curation_pipeline"  # the curation ladder's DuckDB twin


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process it
    started (the driver JVM and its Python workers); reaped children count
    through their parent's cumulative fields.  Unlike wall time, CPU time
    leaves out the time other tenants of a shared host take."""
    cpu, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while /proc was listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        kids.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and process-tree CPU seconds of one operation."""

    def __init__(self):
        self.wall, self.cpu = time.perf_counter(), tree_cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall, tree_cpu_s() - self.cpu


def tail_ms(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least 10 samples beyond it
    (nearest rank), or None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    pct = int(100 * (1 - 10 / n))
    rank = max(1, -(-pct * n // 100))
    return {"percentile": pct, "value": 1e3 * sorted(samples)[rank - 1], "samples": n}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_parquet_dir(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of every parquet file under ``path`` (hive partitions not
    decoded), as Python lists."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {c: [] for c in columns}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, f), columns=columns)
                for c in columns:
                    out[c] += t.column(c).to_pylist()
    return out


def index_geometry(path: str) -> dict:
    """Rows per IVF cell, read from the parquet footers of the index."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        cell = os.path.basename(root)
        for f in files:
            if f.endswith(".parquet"):
                n = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                rows[cell] = rows.get(cell, 0) + n
    n = sum(rows.values())
    return {
        "vectors": n,
        "cells": len(rows),
        "ivf.index_bytes_per_vector": dir_bytes(path) / n if n else 0.0,
        "ivf.cell_rows_max_over_mean": max(rows.values()) / (n / len(rows)) if n else 0.0,
    }


def oracle_compare(pdf, oracle_pdf) -> list[str]:
    """``tests/oracle_utils.compare`` on an already collected result."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    try:
        import oracle_utils
    finally:
        sys.path.pop(0)
    return oracle_utils.compare(types.SimpleNamespace(toPandas=lambda: pdf), oracle_pdf)


def catalyst_s(df) -> float:
    """Seconds of the QueryExecution tracker's phases (analysis,
    optimization, planning) for ``df``."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms / 1e3


def index_scan(df, path: str) -> tuple[int, int]:
    """IVF cells (partitions) and rows the executed plan of ``df`` read from
    the index under ``path``: the SQL metrics of its parquet scan nodes,
    found through the adaptive plan's query stages."""
    cells = rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec" and path in node.relation().location().rootPaths().mkString():
            metrics = node.metrics()
            rows += metrics.apply("numOutputRows").value()
            partitions = metrics.get("numPartitions")  # only a partitioned layout has it
            cells += partitions.get().value() if partitions.isDefined() else 0
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return cells, rows


class Counters:
    """Spark accumulators the traced run threads through the fetcher and
    the encoder (the program's own injection points)."""

    NAMES = ("fetch_calls", "fetch_s", "encoder_inits", "encodes", "encode_s")

    def __init__(self, sc):
        self.acc = {n: sc.accumulator(0.0) for n in self.NAMES}

    def snapshot(self) -> dict:
        return {n: a.value for n, a in self.acc.items()}

    def encoder_factory(self):
        from coldata_spark import embed as E

        base = E._default_encoder_factory
        inits, encodes, encode_s = (self.acc[n] for n in ("encoder_inits", "encodes", "encode_s"))

        def factory():
            inits.add(1)
            enc = base()

            def encode(texts):
                t0 = time.perf_counter()
                out = enc(texts)
                encodes.add(len(texts))
                encode_s.add(time.perf_counter() - t0)
                return out

            return encode

        return factory


class Workload:
    name = ""

    def __init__(self, spark, seed: int, seconds: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.failures: list[str] = []
        self.attempted = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def span(self, tracer, name, request=None):
        return tracer.span(name, request) if tracer else nullcontext()

    def by_group(self, jobs: list[dict]) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in jobs:
            out.setdefault(j["group"], []).append(j)
        return out

    def subtree_jobs(self, tracer: Tracer, groups: dict, sid: int) -> list[dict]:
        return [j for t in tracer.subtree(sid) for j in groups.get(tracer.spans[t]["group"], [])]


# --------------------------------------------------------------------- ingest


class Ingest(Workload):
    """Write path.  Each cycle is one ``runner.run_once`` refresh pass over a
    seeded crawl of the 8 reference sources (``vdb.renew`` on), then one
    ``pipeline.curate_corpus`` run over a seeded curation corpus."""

    name = "ingest"

    def setup(self):
        from coldata_spark import runner
        from coldata_spark.ingest.crawl import DOCUMENT_SCHEMA
        from coldata_spark.operators import upsert
        from coldata_spark.streaming import foldcommit

        t0 = time.perf_counter()
        self.cfg = self.config()
        self.crawl = gen.Crawl(self.seed)
        rows = sorted((s, gen.sha256_hex(u), u, self.crawl.pages[u])
                      for s, us in self.crawl.base.items() for u in us)
        base = self.spark.createDataFrame(rows, DOCUMENT_SCHEMA)
        self.base_root = os.path.join(self.workdir, "base")
        foldcommit.fold_once(
            base, runner.store_path(self.cfg, self.base_root), foldcommit.RESERVED_BATCH_ID,
            lambda existing, part: upsert.merge_append(part, existing), idempotent=True,
        )
        docs, self.curate_shares = gen.curate_corpus_rows(self.seed)
        self.corpus = os.path.join(self.workdir, "curate", "documents.parquet")
        os.makedirs(os.path.dirname(self.corpus))
        gen.write_documents(docs, self.corpus)
        self.cycles: list[dict] = []
        return time.perf_counter() - t0

    @property
    def shares(self) -> dict:
        return {"crawl": self.crawl.shares(), "curate": self.curate_shares}

    def config(self):
        from coldata_spark.config import AppConfig, SourceConfig
        from coldata_spark.ingest.crawl import CrawlConfig

        cfg = AppConfig()
        cfg.vdb.nlist = NLIST
        for s in gen.SOURCES:
            # no politeness sleep: the fetcher is in memory
            cfg.sources[s] = SourceConfig(enabled=True, crawl=CrawlConfig(query_interval=0.0))
        return cfg

    def measure(self, tracer=None, counters=None, tag="plain") -> dict:
        from coldata_spark import pipeline, runner
        from pyspark.sql import functions as F

        crawl = self.crawl
        root = os.path.join(self.workdir, f"ingest-{tag}")
        shutil.copytree(self.base_root, root)
        kwargs = {"encoder_factory": counters.encoder_factory()} if counters else {}
        listing = {s: list(us) for s, us in crawl.base.items()}
        distinct = {u for us in listing.values() for u in us}
        cycles = []
        start = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - start < self.seconds:
            for s, us in crawl.refresh(n).items():
                listing[s] += us
            want = {u for us in listing.values() for u in us}
            # a fetcher made after refresh(n), so it knows the new pages
            factory = gen.fetcher_factory(
                crawl.pages, crawl.fail_first,
                *((counters.acc["fetch_calls"], counters.acc["fetch_s"]) if counters else ()),
            )
            watch = Stopwatch()
            with self.span(tracer, "pass", request=n):
                summary = runner.run_once(self.spark, self.cfg, root, listing, factory, **kwargs)
            pass_wall, pass_cpu = watch.read()
            barriers: list = []
            watch = Stopwatch()
            with self.span(tracer, "curate", request=n):
                docs = self.spark.read.parquet(self.corpus)
                manifest = pipeline.curate_corpus(
                    docs.filter(F.col("doc_id") >= gen.CURATE_BENCH),
                    bench=docs.filter(F.col("doc_id") < gen.CURATE_BENCH),
                    barriers=barriers,
                ).toPandas()
            curate_wall, curate_cpu = watch.read()
            if tracer:  # outside every span, so outside the measured jobs
                self.ladder = self.ladder_counts(barriers, manifest, tracer)
            # an identical plan persisted later would reuse these
            for b in barriers:
                b.unpersist()
            cycles.append({"pass_wall": pass_wall, "pass_cpu": pass_cpu, "summary": summary,
                           "new": sorted(want - distinct), "curate_wall": curate_wall,
                           "curate_cpu": curate_cpu, "manifest": manifest})
            distinct = want
            n += 1
        self.root, self.distinct = root, distinct
        self.cycles += cycles
        stored = [c["summary"]["n_total"] for c in cycles]
        return {
            "op_cpu_ms": 1e3 * median([c["pass_cpu"] for c in cycles]),
            "items_per_cpu_s": median([d / c["pass_cpu"] for d, c in zip(stored, cycles)]),
            "batch_cpu_s": median([c["curate_cpu"] for c in cycles]),
            "wall.op_p50_ms": 1e3 * median([c["pass_wall"] for c in cycles]),
            "wall.items_per_s": median([d / c["pass_wall"] for d, c in zip(stored, cycles)]),
            "wall.batch_s": median([c["curate_wall"] for c in cycles]),
        }

    def ladder_counts(self, barriers: list, manifest, tracer: Tracer) -> dict:
        """Survivors of each rung of the ladder, read off its persisted
        barriers (gated, decontaminated, manifest) while they are cached,
        the bytes they hold, and the near-dup pairs."""
        gated, clean, final = barriers
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        pairs = tracer.results[tracer.named("minhash_neardup_pairs")[-1]["id"]]
        candidates = pairs.count()
        verified = pairs.filter(pairs.est_jaccard >= 0.5).count()  # curate_corpus's jaccard_min
        return {
            "pipeline.rows.gated": gated.count(),
            "pipeline.rows.deduped": gated.select("t").distinct().count(),
            "pipeline.rows.decontaminated": clean.count(),
            "pipeline.rows.neardup_kept": final.count(),
            "pipeline.rows.manifest": len(manifest),
            "pipeline.persisted_bytes": sum(i.memSize() + i.diskSize() for i in infos),
            "dedup.lsh_candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.pair_yield": verified / candidates if candidates else 0.0,
        }

    def gates(self) -> dict:
        import duckdb
        from coldata_spark import registry, runner

        for n, c in enumerate(self.cycles):
            s = c["summary"]
            self.check(s["n_new"] == len(c["new"]),
                       f"pass {n}: n_new {s['n_new']} != {len(c['new'])} new distinct URLs")
        # outputs are read with pyarrow, outside Spark, so the gates add no
        # jobs to the session they check
        pages = self.crawl.pages
        store_dir = runner.store_path(self.cfg, self.root)
        store = read_parquet_dir(store_dir, ["index", "url", "info"])
        rows = {u: (pk, info) for pk, u, info in zip(*(store[c] for c in ("index", "url", "info")))}
        n_rows = len(store["url"])
        self.check(n_rows == len(self.distinct) and set(rows) == self.distinct,
                   f"store holds {n_rows} rows for {len(self.distinct)} distinct URLs kept")
        self.check(all(pk == gen.sha256_hex(u) for u, (pk, _) in rows.items())
                   and len({pk for pk, _ in rows.values()}) == n_rows,
                   "store pk is not sha256(url) or not unique")
        self.check(all(info == pages[u] for u, (_, info) in rows.items()),
                   "stored page text differs from the fetched page")
        index_path = os.path.join(self.root, "index", self.cfg.vdb.collection_name)
        parents = read_parquet_dir(index_path, ["parent_id"])["parent_id"]
        want = sum(gen.n_chunks(pages[u]) for u in self.distinct)
        self.check(len(parents) == want, f"index holds {len(parents)} chunks, expected {want}")
        orphans = len(set(parents) - {pk for pk, _ in rows.values()})
        self.check(orphans == 0, f"{orphans} index parents are not in the store")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}')")
        oracle = con.execute(registry.oracle_sql()[Q169]).df()
        con.close()
        for n, c in enumerate(self.cycles):
            problems = oracle_compare(c["manifest"], oracle)
            self.check(not problems, f"curate {n}: manifest differs from {Q169}: {problems[:3]}")
        text_bytes = sum(len(pages[u].encode()) for u in self.distinct)
        store_bytes = dir_bytes(store_dir)
        self.geometry = index_geometry(index_path)
        self.storage_ratio = (store_bytes + dir_bytes(index_path)) / text_bytes
        return {
            "storage_bytes_per_text_byte": self.storage_ratio,
            "store_bytes": store_bytes,
            "index_vectors": self.geometry["vectors"],
            "index_cells": self.geometry["cells"],
            "manifest_rows": len(self.cycles[-1]["manifest"]),
            "curate_docs_per_s": gen.CURATE_DOCS / median([c["curate_wall"] for c in self.cycles]),
        }

    def wrap(self, tracer: Tracer) -> None:
        from coldata_spark import embed, pipeline, runner
        from coldata_spark import search as S
        from coldata_spark.ingest import crawl
        from coldata_spark.operators import ivf, upsert
        from coldata_spark.streaming import foldcommit

        tracer.wrap(runner, "run_once")
        tracer.wrap(crawl, "crawl_all_sources")
        tracer.wrap(foldcommit, "fold_once")
        tracer.wrap(upsert, "merge_append")
        tracer.wrap(S, "build_index")
        tracer.wrap(embed, "embed_documents")
        tracer.wrap(ivf, "build_ivf")
        tracer.wrap(ivf, "write_ivf")
        tracer.wrap(pipeline, "curate_corpus")
        tracer.wrap(pipeline, "gate_documents")
        # imported by name into pipeline.py
        tracer.wrap(pipeline, "minhash_neardup_pairs", keep_result=True)
        tracer.wrap(pipeline, "deterministic_shuffle")

    def layers(self, tracer: Tracer, jobs: list[dict], counters: dict) -> dict:
        groups = self.by_group(jobs)
        traced = self.cycles[-len(tracer.named("pass")):]
        folds = tracer.named("fold_once")
        fold_bytes = [sum(j["outputBytes"] for j in self.subtree_jobs(tracer, groups, s["id"]))
                      for s in folds]
        pages = self.crawl.pages
        new_bytes = [sum(len(pages[u].encode()) for u in c["new"]) for c in traced]
        # every pass re-indexes the whole store: sum the store's chunks per pass
        chunks_indexed = 0
        stored = {u for us in self.crawl.base.values() for u in us}
        for c in traced:
            stored |= set(c["new"])
            chunks_indexed += sum(gen.n_chunks(pages[u]) for u in stored)
        builds = tracer.named("build_ivf")

        def wall(name):
            return median([tracer.duration(s) for s in tracer.named(name)])

        return {
            "crawl.fetch_calls_per_doc": counters["fetch_calls"] / sum(len(c["new"]) for c in traced),
            "crawl.exec_s": counters["fetch_s"],
            "fold.wall_s": wall("fold_once"),
            "fold.bytes_written": median(fold_bytes),
            "fold.write_amplification": sum(fold_bytes) / sum(new_bytes) if sum(new_bytes) else 0.0,
            "embed.encodes_per_chunk": counters["encodes"] / chunks_indexed,
            "embed.encoder_inits": counters["encoder_inits"],
            "embed.exec_s": counters["encode_s"],
            "ivf.build_ivf.wall_s": wall("build_ivf"),
            "ivf.build_ivf.jobs": median([len(self.subtree_jobs(tracer, groups, s["id"])) for s in builds]),
            "ivf.write_ivf.wall_s": wall("write_ivf"),
            "ivf.index_bytes_per_vector": self.geometry["ivf.index_bytes_per_vector"],
            "ivf.cell_rows_max_over_mean": self.geometry["ivf.cell_rows_max_over_mean"],
            "store.bytes_per_text_byte": self.storage_ratio,
            **self.ladder,
            "pipeline.curate_corpus.wall_s": wall("curate_corpus"),
            "pipeline.gate_documents.plan_s": wall("gate_documents"),
            "dedup.minhash_neardup_pairs.plan_s": wall("minhash_neardup_pairs"),
            "ordering.deterministic_shuffle.wall_s": wall("deterministic_shuffle"),
        }


# --------------------------------------------------------------------- search


class Search(Workload):
    """Read path.  One client issues a seeded, session-serial sequence of
    single-query and 32-query search requests against an index built in
    set-up, then runs the 19 ``bench.py`` headline registry queries in a
    seeded order."""

    name = "search"

    def setup(self):
        import bench
        from coldata_spark import registry
        from coldata_spark import search as S

        t0 = time.perf_counter()
        self.inputs = gen.search_inputs(self.seed)
        corpus = os.path.join(self.workdir, "search", "documents.parquet")
        os.makedirs(os.path.dirname(corpus))
        self.write_corpus(corpus)
        # read from parquet, as runner does
        self.docs = self.spark.read.parquet(corpus)
        self.index = S.build_index(
            self.docs, os.path.join(self.workdir, "search-index"),
            id_col="index", text_col="info", nlist=NLIST,
        )
        self.sf_dir = os.path.join(self.workdir, "sf")
        self.sf_rows = gen.sf_tables(self.seed, self.sf_dir)
        self.queries = registry.queries()
        self.order = random.Random(f"headline-{self.seed}").sample(bench.HEADLINE, len(bench.HEADLINE))
        self.requests: list[tuple[list[str], list, float, float]] = []
        self.single_scans: list[tuple[int, int]] = []  # traced: (cells, rows) read
        self.headline: dict[str, list[dict]] = {q: [] for q in self.order}
        return time.perf_counter() - t0

    def write_corpus(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        idx, info = zip(*self.inputs.docs)
        pq.write_table(pa.table({"index": list(idx), "info": list(info)}), path)

    @property
    def shares(self) -> dict:
        return {"search": self.inputs.shares(), "headline_rows": self.sf_rows,
                "headline_order": self.order}

    def measure(self, tracer=None, counters=None, tag="plain") -> dict:
        from coldata_spark import search as S

        kwargs = {"encoder_factory": counters.encoder_factory()} if counters else {}
        requests, runs = [], {q: [] for q in self.order}
        start = time.perf_counter()
        while not requests or time.perf_counter() - start < self.seconds:
            for _ in range(2):  # a single, then a batch
                queries = self.inputs.request(len(requests))
                watch = Stopwatch()
                with self.span(tracer, "request", request=len(requests)):
                    df = S.search(
                        self.spark, self.index, self.docs, queries, k=K, nprobe=NPROBE,
                        id_col="index", text_col="info", **kwargs,
                    )
                    rows = df.collect()
                requests.append((queries, rows, *watch.read()))
                if tracer and len(queries) == 1:
                    self.single_scans.append(index_scan(df, self.index.path))
            for q in self.order:
                watch = Stopwatch()
                with self.span(tracer, q) as sp:
                    df = self.queries[q](self.spark, self.sf_dir)
                    client_s = time.perf_counter() - watch.wall
                    pdf = df.toPandas()
                wall, cpu = watch.read()
                runs[q].append({"wall": wall, "cpu": cpu, "client_s": client_s, "pdf": pdf,
                                "catalyst_s": catalyst_s(df) if tracer else 0.0,
                                "span": sp["id"] if tracer else None})
        self.requests += requests
        for q, rs in runs.items():
            self.headline[q] += rs
        singles = [r for r in requests if len(r[0]) == 1]
        n_queries = sum(len(r[0]) for r in requests)
        # Throughput over every request, singles included: one batch per
        # round is a single sample of ~12 CPU seconds, and summing the
        # round's requests halves the share its sample noise has.
        return {
            "op_cpu_ms": 1e3 * median([r[3] for r in singles]),
            "items_per_cpu_s": n_queries / sum(r[3] for r in requests),
            "batch_cpu_s": sum(median([r["cpu"] for r in rs]) for rs in runs.values()),
            "wall.op_p50_ms": 1e3 * median([r[2] for r in singles]),
            "wall.items_per_s": n_queries / sum(r[2] for r in requests),
            "wall.batch_s": sum(median([r["wall"] for r in rs]) for rs in runs.values()),
        }

    def gates(self) -> dict:
        import duckdb
        from coldata_spark import registry

        for n, (queries, rows, _, _) in enumerate(self.requests):
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["q_id"], []).append(r)
            ok = sorted(by_q) == list(range(len(queries)))
            for rs in by_q.values():
                rs.sort(key=lambda r: r["rank"])
                ok &= [r["rank"] for r in rs] == list(range(1, K + 1))
                ok &= all(a["score"] >= b["score"] for a, b in zip(rs, rs[1:]))
            self.check(ok, f"request {n}: ranks are not 1..{K} per query or scores not monotone")
        from coldata_spark.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        sql = registry.oracle_sql()
        for q in self.order:
            oracle = con.execute(sql[q]).df()
            for n, r in enumerate(self.headline[q]):
                problems = oracle_compare(r["pdf"], oracle)
                self.check(not problems, f"{q} run {n}: differs from its oracle SQL: {problems[:3]}")
        con.close()
        self.geometry = index_geometry(self.index.path)
        singles = [r[2] for r in self.requests if len(r[0]) == 1]
        batches = [r for r in self.requests if len(r[0]) > 1]
        return {
            "index_vectors": self.geometry["vectors"], "index_cells": self.geometry["cells"],
            "single_requests": len(singles),
            "batch_requests": len(batches),
            "search_batch_qps": sum(len(r[0]) for r in batches) / sum(r[2] for r in batches),
            "search_tail_ms": tail_ms(singles),
            "headline_runs_per_query": len(self.headline[self.order[0]]),
        }

    def recall(self, requests) -> float:
        """recall@K of the measured answers against exact (nprobe = nlist)
        answers for the same queries, one batch, outside the timed loop."""
        from coldata_spark import search as S

        flat = [q for queries, *_ in requests for q in queries]
        exact = S.search(
            self.spark, self.index, self.docs, flat, k=K, nprobe=self.index.nlist,
            id_col="index", text_col="info",
        ).collect()
        truth: dict[int, set] = {}
        for r in exact:
            truth.setdefault(r["q_id"], set()).add(r["index"])
        hits, total, at = 0, 0, 0
        for queries, rows, *_ in requests:
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["q_id"], set()).add(r["index"])
            for j in range(len(queries)):
                want = truth.get(at + j, set())
                hits += len(want & got.get(j, set()))
                total += len(want)
            at += len(queries)
        return hits / total if total else 0.0

    def wrap(self, tracer: Tracer) -> None:
        from coldata_spark import embed
        from coldata_spark import search as S
        from coldata_spark.operators import ivf

        tracer.wrap(S, "build_index")
        tracer.wrap(S, "search")
        tracer.wrap(embed, "embed_documents")
        tracer.wrap(embed, "embed_queries")
        tracer.wrap(ivf, "build_ivf")
        tracer.wrap(ivf, "write_ivf")
        tracer.wrap(ivf, "search_ivf")
        tracer.wrap(S, "group_best")  # imported by name into search.py
        # the headline query functions are spanned where the loop calls them

    def layers(self, tracer: Tracer, jobs: list[dict], counters: dict) -> dict:
        groups = self.by_group(jobs)
        reqs = tracer.named("request")
        traced = self.requests[-len(reqs):]
        per_req = [self.subtree_jobs(tracer, groups, r["id"]) for r in reqs]
        calls = {s["parent"]: s for s in tracer.named("search")}
        plan = [tracer.duration(calls[r["id"]]) for r in reqs if r["id"] in calls]
        execute = [tracer.duration(r) - tracer.duration(calls[r["id"]]) for r in reqs if r["id"] in calls]
        n_queries = sum(len(q) for q, *_ in traced)
        out = {
            "search.jobs_per_request": sum(map(len, per_req)) / len(reqs),
            "search.stages_per_request": sum(j["stages"] for js in per_req for j in js) / len(reqs),
            "search.tasks_per_request": sum(j["numTasks"] for js in per_req for j in js) / len(reqs),
            "search.plan_build_s": median(plan),
            "search.execute_s": median(execute),
            "search.input_rows_per_query": sum(j["inputRecords"] for js in per_req for j in js) / n_queries,
            "search.recall_at_4": self.recall(traced),
            "embed.encoder_inits_per_request": counters["encoder_inits"] / len(reqs),
            "embed.encodes_per_query": counters["encodes"] / n_queries,
            "ivf.search_ivf.wall_s": median([tracer.duration(s) for s in tracer.named("search_ivf")]),
            "ivf.cells_probed_per_query": median([c for c, _ in self.single_scans]),
            "ivf.rows_scanned_per_query": median([r for _, r in self.single_scans]),
            "ivf.index_bytes_per_vector": self.geometry["ivf.index_bytes_per_vector"],
            "ivf.cell_rows_max_over_mean": self.geometry["ivf.cell_rows_max_over_mean"],
            "similarity.group_best.wall_s": median([tracer.duration(s) for s in tracer.named("group_best")]),
            "headline.catalyst_s": 0.0,
        }
        for q in self.order:
            rs = [r for r in self.headline[q] if r["span"] is not None]
            out[f"headline.{q}.s"] = median([r["wall"] for r in rs])
            out[f"headline.{q}.client_s"] = median([r["client_s"] for r in rs])
            out[f"headline.{q}.stages"] = median(
                [sum(j["stages"] for j in self.subtree_jobs(tracer, groups, r["span"])) for r in rs])
            out["headline.catalyst_s"] += median([r["catalyst_s"] for r in rs])
        return out


WORKLOADS = {w.name: w for w in (Ingest, Search)}


def measured_jobs(jobs: list[dict]) -> list[dict]:
    """Jobs fired inside a span: only the traced measurement opens spans."""
    return [j for j in jobs if j["group"] is not None]
