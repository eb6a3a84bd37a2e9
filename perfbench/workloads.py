"""The three benchmark workloads, their output checks and their traced
variants.

Each workload is a closed loop with one client — this process — that
calls the engine's public functions one after another. A loop keeps
starting operations while the next one is expected to finish inside
the measured window (and runs at least one). Output checks run
between operations, outside every timed call.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field

import inputs
from tracing import RssSampler, Tracer, tree_cpu_s


# ------------------------------------------------------------- context --

def _perturb(v):
    """A value that differs from ``v``: the sabotage mode compares every
    check against a perturbed expectation, proving that it can fail."""
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, dict):
        w = dict(v)
        k = next(iter(w), "__perturbed")
        w[k] = ("__perturbed", w.get(k))
        return w
    if isinstance(v, (set, frozenset)):
        return set(v) | {"__perturbed"}
    if isinstance(v, (list, tuple)):
        return list(v) + ["__perturbed"]
    return (v, "__perturbed")


def _brief(v, limit: int = 160) -> str:
    s = repr(v)
    return s if len(s) <= limit else s[:limit] + "..."


@dataclass
class Checks:
    sabotage: bool = False
    results: dict = field(default_factory=dict)  # name -> [attempted, failed]

    def expect(self, name: str, actual, expected) -> bool:
        if self.sabotage:
            expected = _perturb(expected)
        ok = actual == expected
        rec = self.results.setdefault(name, [0, 0])
        rec[0] += 1
        if not ok:
            rec[1] += 1
            print(f"check failed: {name}: {_brief(actual)} != "
                  f"{_brief(expected)}", file=sys.stderr)
        return ok


@dataclass
class Ctx:
    """Everything one run needs: the session factory, the work
    directory, the seed, the measured window and the result sinks."""
    start_session: object          # () -> SparkSession (fresh each call)
    work: str
    seed: int
    seconds: float
    traced: bool
    smoke: bool
    cores: int
    checks: Checks
    rss: RssSampler
    spark: object = None
    tracer: Tracer | None = None
    win: "Window | None" = None
    ops_attempted: int = 0
    ops_failed: int = 0
    setups: list = field(default_factory=list)
    setup_sessions: list = field(default_factory=list)  # session part
    gen_s: float = 0.0
    prep_s: float = 0.0
    out: dict = field(default_factory=dict)      # workload-level results
    layer: dict = field(default_factory=dict)    # per-layer values

    def session(self):
        self.spark = self.start_session()
        self.tracer = Tracer(self.spark.sparkContext,
                             uuid.uuid4().hex[:8], self.traced)
        return self.spark

    def timed(self, fn, *a, **kw):
        """Run one engine call; returns (result, wall seconds). A raised
        exception counts as a failed operation and propagates."""
        self.ops_attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn(*a, **kw)
        except Exception:
            self.ops_failed += 1
            raise
        return res, time.perf_counter() - t0

    def out_dir(self, name: str) -> str:
        d = os.path.join(self.work, "out", name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def window(self) -> "Window":
        self.win = Window(self.seconds, self.rss)
        return self.win


class Window:
    """Closed-loop pacing over the measured window. Also keeps, per
    operation (``start`` .. ``done``), the CPU seconds and the peak
    resident memory of the process tree."""

    def __init__(self, seconds: float, rss: RssSampler):
        self.seconds, self.rss = seconds, rss
        self.t0 = time.perf_counter()
        self.walls: list[float] = []
        self.cpu_s: list[float] = []
        self.rss_mb: list[float] = []
        self._cpu0 = 0.0

    def more(self) -> bool:
        if not self.walls:
            return True
        est = statistics.median(self.walls)
        return time.perf_counter() - self.t0 + est <= self.seconds

    def start(self) -> None:
        self.rss.take()
        self._cpu0 = tree_cpu_s(os.getpid())

    def done(self, wall: float) -> None:
        self.cpu_s.append(tree_cpu_s(os.getpid()) - self._cpu0)
        self.walls.append(wall)
        self.rss_mb.append(self.rss.take())


def _median(xs):
    return statistics.median(xs) if xs else None


def _pct(xs: list[float], q: float):
    """The q-quantile and how many samples lie beyond it; the value is
    None unless at least ten do."""
    if not xs:
        return None, 0
    s = sorted(xs)
    v = s[min(len(s) - 1, int(q * len(s)))]
    beyond = sum(1 for x in s if x > v)
    return (v if beyond >= 10 else None), beyond


def setup_loop(ctx: Ctx, input_path: str) -> None:
    """Four set-ups (one in a traced run), each a fresh session plus a
    scan of the workload's input; the first also launches the JVM, and
    stopping the previous session is not timed. The Python workers
    start in the workload's preparation that follows in the last
    session (``Ctx.prep_s``): a set-up stays one session start, and a
    run fits the time budget of a full benchmark pass."""
    for _ in range(1 if ctx.traced else 4):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.session()
        t1 = time.perf_counter()
        ctx.spark.read.parquet(input_path).count()
        t2 = time.perf_counter()
        ctx.setups.append(t2 - t0)
        ctx.setup_sessions.append(t1 - t0)


# ------------------------------------------------------------ kernels --

def kernel_timings(doc_ids: list[int], repeats: int = 3) -> dict:
    """Per-doc single-thread milliseconds of each extraction kernel on
    a seeded sample of pages (the calls the job's kernel makes)."""
    from resume_parser_service_spark.kernels import (embed, html_text,
                                                     pdf_text, resume_map)
    from resume_parser_service_spark.sources.pages import synth_doc

    docs = [(i, synth_doc(i)["html"]) for i in doc_ids]
    plain = [h for i, h in docs if i % 10 in (0, 2)]
    enc = [h for i, h in docs if i % 10 == 1]
    html = [h for i, h in docs if i % 10 >= 3]
    extracted = [pdf_text.extract_pdf(h) if i % 10 < 3
                 else html_text.extract_html(h) for i, h in docs]
    flats = [resume_map.resume_to_text(
        resume_map.map_resume(r["text"], r["links"])) for r in extracted]
    calls = {
        "kernels.pdf_text.plain_ms": (pdf_text.extract_pdf, plain),
        "kernels.pdf_text.encrypted_ms": (pdf_text.extract_pdf, enc),
        "kernels.html_text.ms": (html_text.extract_html, html),
        "kernels.resume_map.ms": (
            lambda r: resume_map.map_resume(r["text"], r["links"]),
            extracted),
        "kernels.embed.ms": (embed.embed_text, flats),
    }
    out = {}
    for name, (fn, xs) in calls.items():
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for x in xs:
                fn(x)
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) * 1000.0 / max(1, len(xs))
    return out


# -------------------------------------------------- traced job replay --

def replay_job(ctx: Ctx, pages, out_root: str, compact_after=None,
               enrich: bool = False, neardup_index: bool = False) -> dict:
    """``pipeline.run.run_extraction_job`` replayed step by step through
    the same public functions, each step materialized inside its own
    span. Commits the same tables the job commits."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from resume_parser_service_spark.operators.incremental import (
        band_signatures, seen_and_pairs)
    from resume_parser_service_spark.pipeline.extract import (
        dedup_latest, enrich_extracted, extract_pages, validate_extracted,
        validate_pages)
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    spark, tr = ctx.spark, ctx.tracer
    ext_tbl = SnapshotTable(os.path.join(out_root, "resumes_extracted"),
                            bloom_ndv=100_000)
    audit_tbl = SnapshotTable(os.path.join(out_root, "extraction_audit"))
    run_id = uuid.uuid4().hex[:12]
    held = []

    def keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df

    info = {"resumed_noop": False, "kernel_cpu_s": 0.0, "neardup_hits": 0}
    try:
        with tr.span("writer.resume_filter"):
            todo = keep(audit_tbl.resume_filter(spark, pages))
            n_todo = todo.count()
        if n_todo == 0:
            info["resumed_noop"] = True
            return info
        # extract_pages validates on its own, inside the kernel stage: this
        # standalone pass is a side measurement, not a step of the job
        with tr.span("extract.validate_pages", side=True):
            validate_pages(todo).count()
        with tr.span("extract.kernel_stage"):
            raw, rejected = extract_pages(todo, dedup=False)
            raw, rejected = keep(raw), keep(rejected)
            raw.count()
            n_rejected = rejected.count()
        info["kernel_cpu_s"] = (raw.agg(F.sum("extract_ms")).first()[0]
                                or 0.0) / 1000.0
        with tr.span("extract.dedup_latest"):
            ext = keep(dedup_latest(raw))
            ext.count()
        with tr.span("extract.validate_extracted"):
            ext = validate_extracted(ext)
            has_verr = F.size("validation_errors") > 0
            ext = ext.withColumn(
                "status", F.when((F.col("status") == "ok") & has_verr,
                                 F.lit("invalid"))
                .otherwise(F.col("status"))
            ).withColumn(
                "error_class", F.when((F.col("status") == "invalid") &
                                      F.col("error_class").isNull(),
                                      F.lit("InvalidResumeDataError"))
                .otherwise(F.col("error_class")))
            ext = keep(ext)
            n_extracted = ext.count()
        if enrich:
            with tr.span("extract.enrich"):
                ext = keep(enrich_extracted(ext))
                ext.count()
        bands_tbl = seen = new_bands = None
        if neardup_index:
            bands_tbl = SnapshotTable(os.path.join(out_root, "neardup_bands"))
            ok_docs = (ext.filter(F.col("status") == "ok")
                       .select(F.col("url").alias("doc_id"), "text"))
            with tr.span("incremental.band_signatures"):
                new_bands = keep(band_signatures(spark, ok_docs))
                new_bands.count()
            idx = bands_tbl.read(spark)
            with tr.span("incremental.seen_and_pairs"):
                if idx is not None:
                    seen, pairs = seen_and_pairs(
                        new_bands, idx.select(F.col("url").alias("doc_id"),
                                              "band_id", "band_hash"))
                    seen = keep(seen)
                    seen.count()
                    flags = keep(pairs.groupBy("doc_id")
                                 .agg(F.min("dup_of").alias("neardup_of"))
                                 .withColumnRenamed("doc_id", "url"))
                    info["neardup_hits"] = flags.count()
                else:
                    flags = spark.createDataFrame(
                        [], "url string, neardup_of string")
            ext = ext.join(F.broadcast(flags), "url", "left")
        with tr.span("writer.commit_extracted"):
            snap = ext_tbl.commit(ext.filter(F.col("status") == "ok"))
        if bands_tbl is not None:
            with tr.span("writer.commit_bands"):
                to_append = new_bands if seen is None else \
                    new_bands.join(F.broadcast(seen), "doc_id", "left_anti")
                bands_tbl.commit(to_append.withColumnRenamed("doc_id", "url"))
        with tr.span("writer.commit_audit"):
            common = [F.lit(run_id).alias("run_id"),
                      F.lit(snap).alias("snapshot_id"),
                      F.spark_partition_id().alias("partition_id"),
                      "url", "doc_type", "status", "error_class"]
            audit = ext.select(
                *common, "n_pages", "n_chars", "n_links", "extract_ms",
                "kernel_version",
                F.current_timestamp().alias("committed_at"))
            rej_audit = rejected.select(
                *common,
                F.lit(None).cast("int").alias("n_pages"),
                F.lit(None).cast("long").alias("n_chars"),
                F.lit(None).cast("int").alias("n_links"),
                F.lit(None).cast("double").alias("extract_ms"),
                F.lit(None).cast("string").alias("kernel_version"),
                F.current_timestamp().alias("committed_at"))
            audit_tbl.commit(audit.unionByName(rej_audit))
        if compact_after is not None:
            if len(ext_tbl.live_snapshots()) >= compact_after:
                with tr.span("writer.compact"):
                    ext_tbl.compact(spark, sort=True, keep_versions=2)
                with tr.span("writer.expire_snapshots"):
                    ext_tbl.expire_snapshots()
            for tbl in (audit_tbl, bands_tbl):
                if (tbl is not None and
                        len(tbl.live_snapshots()) >= compact_after):
                    with tr.span("writer.compact"):
                        tbl.compact(spark, mode="append")
                    with tr.span("writer.expire_snapshots"):
                        tbl.expire_snapshots()
        info.update(extracted=n_extracted, rejected=n_rejected,
                    snapshot_id=snap)
        return info
    finally:
        for df in held:
            df.unpersist()


def _committed_files(root: str) -> dict[tuple, tuple[int, int]]:
    """(table, snapshot id) -> (data files, bytes) of every snapshot a
    job commits under ``root``, from the manifests: files a later
    compaction and expiry delete still count as written."""
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    out = {}
    for t in ("resumes_extracted", "extraction_audit", "neardup_bands"):
        d = os.path.join(root, t)
        if os.path.isdir(d):
            for s in SnapshotTable(d).snapshots():
                files = s.get("files") or []
                out[(t, s["id"])] = (len(files),
                                     sum(e.get("bytes", 0) for e in files))
    return out


class Replays:
    """Runs the traced replay beside each monolithic job and collects
    the per-job layer numbers."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.vals: dict[str, list[float]] = {}

    def _add(self, name: str, v: float) -> None:
        self.vals.setdefault(name, []).append(v)

    def run(self, mono_wall: float, pages, root: str, **flags) -> dict:
        ctx = self.ctx
        before = _committed_files(root)
        with ctx.tracer.span("run.replay") as rec:
            info, wall = ctx.timed(replay_job, ctx, pages, root, **flags)
        new = [v for k, v in _committed_files(root).items()
               if k not in before]
        side = ctx.tracer.child_time(rec, side=True)
        self._add("run.self_s", mono_wall - ctx.tracer.child_time(rec))
        self._add("trace.overhead_s", wall - side - mono_wall)
        self._add("writer.files_written", sum(n for n, _ in new))
        self._add("writer.bytes_written", sum(b for _, b in new))
        self._add("incremental.neardup_hits", info["neardup_hits"])
        kernel = [s for s in ctx.tracer.spans
                  if s["name"] == "extract.kernel_stage"
                  and s["start"] >= rec["start"]]
        if kernel:
            k = kernel[-1]
            self._add("extract.crossing_overhead_s",
                      k["end"] - k["start"] - info["kernel_cpu_s"] / ctx.cores)
        return info

    def report(self) -> None:
        self.ctx.layer.update({k: statistics.median(v)
                               for k, v in self.vals.items()})


# ---------------------------------------------------------- batch_cold --

def batch_cold(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    n_docs = 40 if ctx.smoke else 2000
    ps, cdir, ctx.gen_s = inputs.batch_cold_inputs(
        inputs.Cache(ctx.work), ctx.seed, n_docs)

    setup_loop(ctx, os.path.join(cdir, "pages.parquet"))
    spark, c = ctx.spark, ctx.checks
    t0 = time.perf_counter()
    root = ctx.out_dir("warm")
    run_extraction_job(spark, spark.read.parquet(
        os.path.join(cdir, "warm.parquet")), root)
    shutil.rmtree(root, ignore_errors=True)
    ctx.prep_s = time.perf_counter() - t0
    pages = spark.read.parquet(os.path.join(cdir, "pages.parquet"))
    expect_text = {u: t for u, t in ps.oracle.items()
                   if u not in inputs.FIXTURE_OUTCOME}
    win = ctx.window()
    noop_walls = []
    replays = Replays(ctx)
    i = 0
    while win.more():
        root = ctx.out_dir(f"bc{i}")
        win.start()
        res, wall = ctx.timed(run_extraction_job, spark, pages, root)
        win.done(wall)
        res2, wall2 = ctx.timed(run_extraction_job, spark, pages, root)
        noop_walls.append(wall2)
        c.expect("batch_cold.counts", (res["extracted"], res["rejected"]),
                 (len(ps.oracle) - 2, 2))
        c.expect("batch_cold.resume_noop",
                 (res2["resumed_noop"], res2["extracted"]), (True, 0))
        ext = SnapshotTable(os.path.join(root, "resumes_extracted"))
        got = {r.url: r.text for r in
               ext.read(spark).select("url", "text").collect()}
        c.expect("batch_cold.text_identity", got, expect_text)
        audit = SnapshotTable(os.path.join(root, "extraction_audit"))
        bad = {r.url: (r.status, r.error_class) for r in
               audit.read(spark).filter(F.col("status") != "ok")
               .select("url", "status", "error_class").collect()}
        c.expect("batch_cold.taxonomy", bad, inputs.FIXTURE_OUTCOME)
        if ctx.traced:
            rroot = ctx.out_dir(f"bcr{i}")
            replays.run(wall, pages, rroot)
            n_rep = (SnapshotTable(os.path.join(rroot, "resumes_extracted"))
                     .read(spark).count())
            c.expect("batch_cold.replay_matches_job", n_rep, len(got))
            with ctx.tracer.span("run.replay_noop"):
                info = replay_job(ctx, pages, rroot)
            c.expect("batch_cold.replay_noop", info["resumed_noop"], True)
            shutil.rmtree(rroot, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        i += 1
    job_p50 = _median(win.walls)
    ctx.out.update(
        op_p50_s=job_p50,
        workload={"docs_per_s": (ps.n_rows / job_p50, "pages/s",
                              len(win.walls)),
               "resume_noop_s": (_median(noop_walls), "s",
                                 len(noop_walls))})
    if ctx.traced:
        replays.report()
        ctx.layer.update(kernel_timings(ps.kernel_sample))


# -------------------------------------------------- ingest_incremental --

#: every batch compacts (one live snapshot remains after each), so
#: batches cost the same and the traced single batch compacts too
COMPACT_AFTER = 2
LOOKUPS_PER_BATCH = 4
#: batches ingested in the preparation, after the boot. The boot alone
#: leaves the driver's JIT cold, and the next batch is the first to
#: query the band index and to compact: over ten seeds on a 4-vCPU host
#: that first batch took 10.1-15.7 s and 33-48 CPU-seconds, split into
#: two groups, and spread 0.30 (quartile distance over median) in wall
#: time; the batch after it spread 0.15-0.19 in two such sets
WARM_BATCHES = 1


def ingest_incremental(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    sizes = (20, 10, 2, 2, 3) if ctx.smoke else (100, 100, 10, 10, 8)
    ing, cdir, ctx.gen_s = inputs.ingest_inputs(
        inputs.Cache(ctx.work), ctx.seed, *sizes)
    flags = dict(enrich=True, neardup_index=True,
                 compact_after=COMPACT_AFTER)
    boot_path = os.path.join(cdir, "boot.parquet")
    setup_loop(ctx, boot_path)
    spark, tr, c = ctx.spark, ctx.tracer, ctx.checks
    t0 = time.perf_counter()
    roots = {"mono": ctx.out_dir("ing-mono")}
    for path in [boot_path] + [os.path.join(cdir, b.path)
                               for b in ing.batches[:WARM_BATCHES]]:
        prev = run_extraction_job(spark, spark.read.parquet(path),
                                  roots["mono"], **flags)["snapshot_id"]
    if ctx.traced:
        # the replay's root starts as a copy (manifests hold relative
        # paths), so the two roots hold the same snapshots
        roots["replay"] = ctx.out_dir("ing-replay")
        shutil.copytree(roots["mono"], roots["replay"])
    ctx.prep_s = time.perf_counter() - t0
    audit = SnapshotTable(os.path.join(roots["mono"], "extraction_audit"))
    c.expect("ingest.taxonomy", {
        r.url: (r.status, r.error_class) for r in
        audit.read(spark).filter(F.col("status") != "ok")
        .select("url", "status", "error_class").collect()},
        inputs.FIXTURE_OUTCOME)
    # reads go to the replay's root in traced runs (the spans are there)
    tbl = SnapshotTable(os.path.join(
        roots["replay" if ctx.traced else "mono"], "resumes_extracted"))
    committed = {u: t for u, t in ing.boot_oracle.items()
                 if u not in inputs.FIXTURE_OUTCOME}
    for b in ing.batches[:WARM_BATCHES]:
        committed.update({u: b.oracle[u] for u in b.commit_urls})
    rng = random.Random(f"ingest-reads:{ctx.seed}")
    win = ctx.window()
    lookups, cdc, live, engine_s = [], [], [], 0.0
    replays = Replays(ctx)
    for b in ing.batches[WARM_BATCHES:]:
        if not win.more():
            break
        pages = spark.read.parquet(os.path.join(cdir, b.path))
        win.start()
        res, wall = ctx.timed(run_extraction_job, spark, pages,
                              roots["mono"], **flags)
        win.done(wall)
        engine_s += wall
        c.expect("ingest.replays_dropped",
                 (res["resumed_noop"], res["extracted"]),
                 (False, len(b.commit_urls)))
        snap = res["snapshot_id"]
        if ctx.traced:
            info = replays.run(wall, pages, roots["replay"], **flags)
            c.expect("ingest.replay_matches_job", info["extracted"],
                     res["extracted"])
            snap = info["snapshot_id"]
            live.append(len(tbl.live_snapshots()))
        committed.update({u: b.oracle[u] for u in b.commit_urls})
        got, want = {}, {}
        for url in rng.sample(sorted(committed), LOOKUPS_PER_BATCH):
            with tr.span("writer.point_lookup"):
                rows, w = ctx.timed(
                    lambda u=url: tbl.point_lookup(spark, u)
                    .select("url", "text").collect())
            lookups.append(w)
            engine_s += w
            got[url] = [r.text for r in rows]
            want[url] = [committed[url]]
        c.expect("ingest.lookup_rows", got, want)
        with tr.span("writer.read_changes"):
            rows, w = ctx.timed(
                lambda: tbl.read_changes(spark, prev)
                .select("url", "text", "neardup_of").collect())
        cdc.append(w)
        engine_s += w
        prev = snap
        c.expect("ingest.cdc_count", len(rows), len(b.commit_urls))
        c.expect("ingest.text_identity", {r.url: r.text for r in rows},
                 {u: b.oracle[u] for u in b.commit_urls})
        c.expect("ingest.republished_flagged",
                 {r.url for r in rows if r.url in b.republished
                  and r.neardup_of is not None}, set(b.republished))
    # outside the window: re-running the last batch is a no-op
    res, _ = ctx.timed(run_extraction_job, spark, pages, roots["mono"],
                       **flags)
    c.expect("ingest.resume_noop", (res["resumed_noop"], res["extracted"]),
             (True, 0))
    lk_p90, lk_beyond = _pct(lookups, 0.9)
    batch_p50 = _median(win.walls)
    ctx.out.update(
        op_p50_s=batch_p50,
        workload={"loop_wall_s": (engine_s, "s", len(win.walls)),
               "batch_p50_s": (batch_p50, "s", len(win.walls)),
               "lookup_p50_s": (_median(lookups), "s", len(lookups)),
               "lookup_p90_s": (lk_p90, "s", lk_beyond),
               "cdc_read_p50_s": (_median(cdc), "s", len(cdc))})
    if ctx.traced:
        replays.report()
        ctx.layer["writer.live_snapshots"] = _median(live)
        ctx.layer.update(kernel_timings(ing.kernel_sample))


# -------------------------------------------------------- corpus_dedup --

#: (span / layer name, catalog query name; None = decontamination)
SUITE = [
    ("catalog.ngram_jaccard_pairs", "ngram_jaccard_pairs"),
    ("cluster.dedup_clusters", "dedup_clusters"),
    ("catalog.band_signatures", "band_signatures"),
    ("spans.repeated_spans", "repeated_spans"),
    ("decontaminate.contaminated_docs", None),
    ("catalog.embedding_neardup_pairs", "embedding_neardup_pairs"),
]


#: (documents, vectors) of the measured corpus: half the size of the
#: catalog's sf0.1 tables, whose profile ``inputs.dedup_inputs`` follows.
#: At the full 5,000 / 2,000 a pass took 19.9 s and a run 71 s on a
#: 4-vCPU host, against 10.5-12.5 s per pass at 2,500 documents; a full
#: benchmark pass (48 runs in 3,420 s) has no room for that
DEDUP_SIZE = (2500, 1000)
#: (documents, vectors) of the smoke corpus and of the warm-up pass
TINY_DEDUP = (200, 100)


def _suite_pass(ctx: Ctx, queries, sf_dir: str, tracer: Tracer) -> dict:
    """One pass over the dedup family, each call inside a span of
    ``tracer``; returns {layer: collected rows}."""
    from resume_parser_service_spark.operators.decontaminate import \
        contaminated_docs

    spark = ctx.spark
    out = {}
    for layer, q in SUITE:
        if q is None:
            def call():
                return contaminated_docs(
                    spark, spark.table("documents"),
                    spark.read.parquet(os.path.join(sf_dir,
                                                    "eval_docs.parquet")),
                    n=inputs.DECONTAM_N).collect()
        else:
            def call(fn=queries[q]):
                return fn(spark, sf_dir).collect()
        with tracer.span(layer):
            out[layer], _ = ctx.timed(call)
    return out


def _check_suite(ctx: Ctx, ds: inputs.DedupSet, vecs, res: dict) -> dict:
    """Exact checks against the oracles; returns the planted recalls."""
    import numpy as np

    c = ctx.checks
    pairs = {(r.doc_a, r.doc_b): (r.n_shared, r.jaccard)
             for r in res["catalog.ngram_jaccard_pairs"]}
    c.expect("dedup.ngram_pairs", set(pairs), set(ds.pairs))
    c.expect("dedup.ngram_jaccard", sorted(
        k for k, (n, j) in pairs.items() if k in ds.pairs and
        (n != ds.pairs[k][0] or abs(j - ds.pairs[k][1]) > 1e-6)), [])
    labels = {r.doc_id: r.cluster_id for r in res["cluster.dedup_clusters"]}
    c.expect("dedup.cluster_labels", labels, ds.labels)
    c.expect("dedup.band_rows", len(res["catalog.band_signatures"]),
             ds.n_band_rows)
    c.expect("dedup.repeated_spans", sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in res["spans.repeated_spans"]), ds.spans)
    c.expect("dedup.contaminated_docs", {
        r.doc_id: r.n_hits for r in res["decontaminate.contaminated_docs"]},
        ds.contaminated)
    emb = res["catalog.embedding_neardup_pairs"]
    bad = 0
    if emb:
        a = np.array([r.vec_a for r in emb])
        b = np.array([r.vec_b for r in emb])
        v = vecs.astype(np.float64)
        cos = (np.einsum("ij,ij->i", v[a], v[b]) /
               (np.linalg.norm(v[a], axis=1) * np.linalg.norm(v[b], axis=1)))
        got = np.array([r.cos_sim for r in emb])
        bad = int(np.sum((np.abs(cos - got) > 1.5e-4) |
                         (got <= inputs.COSINE_MIN)))
    c.expect("dedup.embedding_cosines", bad, 0)
    emb_pairs = {(r.vec_a, r.vec_b) for r in emb}
    groups_ok = sum(1 for g in ds.planted_groups
                    if len({labels.get(d) for d in g}) == 1)
    recall = {
        "catalog.ngram_jaccard_pairs.planted_recall":
            sum(p in pairs for p in ds.planted_pairs) / len(ds.planted_pairs),
        "cluster.dedup_clusters.planted_recall":
            groups_ok / len(ds.planted_groups),
        "catalog.embedding_neardup_pairs.planted_recall":
            sum(p in emb_pairs for p in ds.planted_vec_pairs)
            / len(ds.planted_vec_pairs),
    }
    for name, r in recall.items():
        c.expect("dedup." + name.split(".", 1)[1], r, 1.0)
    return recall


def corpus_dedup(ctx: Ctx) -> None:
    import numpy as np

    import __spark_entry__
    from resume_parser_service_spark.operators import cluster

    n_docs, n_vecs = TINY_DEDUP if ctx.smoke else DEDUP_SIZE
    ds, sf_dir, ctx.gen_s = inputs.dedup_inputs(
        inputs.Cache(ctx.work), ctx.seed, n_docs, n_vecs)
    _, tiny_dir, _ = inputs.dedup_inputs(inputs.Cache(ctx.work), ctx.seed,
                                         *TINY_DEDUP)
    vecs = np.load(os.path.join(sf_dir, "vectors.npy"))
    queries = __spark_entry__.queries()
    untraced = Tracer(None, "", False)

    setup_loop(ctx, os.path.join(sf_dir, "documents.parquet"))
    # every query once on a tiny corpus: JIT, codegen and the Python
    # workers' imports are done before the window
    t0 = time.perf_counter()
    _suite_pass(ctx, queries, tiny_dir, untraced)
    ctx.prep_s = time.perf_counter() - t0
    win = ctx.window()
    overhead, rounds = [], []
    recalls: dict[str, list[float]] = {}
    while win.more():
        win.start()
        t0 = time.perf_counter()
        res = _suite_pass(ctx, queries, sf_dir, untraced)
        wall = time.perf_counter() - t0
        rounds.append(cluster.LAST_ROUNDS or 0)
        win.done(wall)
        rec = _check_suite(ctx, ds, vecs, res)
        if ctx.traced:
            with ctx.tracer.span("dedup.suite") as span:
                res = _suite_pass(ctx, queries, sf_dir, ctx.tracer)
            overhead.append(span["end"] - span["start"] - wall)
            rec = _check_suite(ctx, ds, vecs, res)
        for k, v in rec.items():
            recalls.setdefault(k, []).append(v)
    ctx.out.update(
        op_p50_s=_median(win.walls),
        workload={"dedup_suite_s": (_median(win.walls), "s", len(win.walls))})
    if ctx.traced:
        ctx.layer["trace.overhead_s"] = _median(overhead)
        ctx.layer["cluster.rounds"] = _median(rounds)
        ctx.layer.update({k: min(v) for k, v in recalls.items()})


WORKLOADS = {"batch_cold": batch_cold,
             "ingest_incremental": ingest_incremental,
             "corpus_dedup": corpus_dedup}
