"""End-to-end resumable extraction job.

Batch equivalent of the reference's full service lifecycle (SURVEY.md
§3.1): scan -> dedup -> validate -> [salted repartition] -> kernel ->
commit extracted + audit snapshots, resuming idempotently from the last
committed snapshot (anti-join on processed urls). The audit table is
the structured-event-log replacement
(/root/reference/app/core/logging_config.py:90-96 ->
``extraction_audit`` rows per (run_id, partition_id, url), SURVEY.md C3)
and doubles as the processed-url checkpoint: ok, error AND rejected rows
all appear there, so a resumed run re-touches nothing.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .extract import enrich_extracted, extract_pages, validate_extracted
from .writer import SnapshotTable

__all__ = ["run_extraction_job"]


def run_extraction_job(spark: SparkSession, pages: DataFrame, out_root: str,
                       salt_partitions: int | None = None,
                       compact_after: int | None = None,
                       enrich: bool = False,
                       neardup_index: bool = False,
                       canonicalize_urls: bool = False) -> dict:
    """Run (or resume) extraction of ``pages`` into tables under
    ``out_root``: ``resumes_extracted`` + ``extraction_audit``.
    Re-running with the same input is a no-op (idempotent resume).

    ``salt_partitions=N``: repartition the input into N partitions by
    xxhash64(url) before the kernel (``extract.extract_pages``).

    ``compact_after=N``: when the extracted table accumulates >= N live
    delta snapshots, bin-pack-compact it and expire the replaced
    snapshots after the commit — the small-file defense for an
    incremental ingest loop (each resumed batch otherwise adds another
    file set that every downstream scan pays for).

    ``enrich=True``: annotate committed rows with training-data columns
    (fingerprint, content_dup_of, token counts, quality ratios,
    lang_guess — see ``extract.enrich_extracted``).

    ``neardup_index=True``: maintain an append-only MinHash band index
    (table ``neardup_bands``) across runs and tag each committed row
    with ``neardup_of`` — the url of an earlier-batch near-duplicate it
    collides with (NULL when novel). Flag-don't-drop: the export layer
    decides the policy. Granularity is the batch boundary (within-batch
    near-dups are the batch operators' job; exact within-batch dups are
    already ``content_dup_of`` under ``enrich``). The index is never
    rewritten — each run appends only the new batch's bands — so the
    cost of dedup against a 100 TB corpus is one broadcast of the
    batch's signatures against a streamed index scan
    (``operators.incremental``).

    ``canonicalize_urls=True``: canonicalize urls (operators.urlnorm)
    before dedup/resume so trivial variants (host case, default ports,
    utm params, fragments) share one identity key."""
    # key blooms only on the PRIMARY keyed table — the point-lookup
    # target; the audit log and band index are append/scan tables where
    # an NDV-sized bloom is pure overhead
    extracted_tbl = SnapshotTable(os.path.join(out_root,
                                               "resumes_extracted"),
                                  bloom_ndv=100_000)
    audit_tbl = SnapshotTable(os.path.join(out_root, "extraction_audit"))
    run_id = uuid.uuid4().hex[:12]

    if canonicalize_urls:
        # crawl-dedup pre-step (operators.urlnorm): fold url variants
        # (host case, default ports, tracking params, fragments) into
        # ONE identity key BEFORE the latest-wins dedup and the audit
        # resume anti-join — variants then collapse to a single
        # extraction instead of committing as distinct documents
        from ..operators.urlnorm import canonical_url_col
        pages = pages.withColumn("url", canonical_url_col("url"))

    # resume point: urls already processed (ok, error or rejected)
    todo = audit_tbl.resume_filter(spark, pages)

    extracted, rejected = extract_pages(todo, salt_partitions=salt_partitions)
    # A9 residual validation: rows failing the reference's refinement
    # checks are routed to the audit table (status='invalid', class
    # InvalidResumeDataError — /root/reference/app/core/exceptions.py:113)
    # and NOT committed, mirroring the service's HTTP-400 path
    # (/root/reference/app/routers/resume_ingestor_router.py:304-321).
    extracted = validate_extracted(extracted)
    has_verr = F.size("validation_errors") > 0
    extracted = extracted.withColumn(
        "status", F.when((F.col("status") == "ok") & has_verr,
                         F.lit("invalid")).otherwise(F.col("status"))
    ).withColumn(
        "error_class", F.when((F.col("status") == "invalid") &
                              F.col("error_class").isNull(),
                              F.lit("InvalidResumeDataError"))
                        .otherwise(F.col("error_class")))
    # One materialization of the kernel output; everything below reuses
    # it. Persist BEFORE enrich: enrich's content-dup map aggregates a
    # second (column-pruned) traversal of the frame, which must read
    # this cache, never re-run the extraction kernel. `held` keeps the
    # handle of every frame this call persists (enrich's dup map too)
    # for the finally: `extracted` is rebound below (enrich, neardup
    # join), and unpersisting a rebound plan would leak the cache for
    # the session (one leak per batch in an ingest loop).
    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    held = [extracted]
    if enrich:
        # the enriched frame is persisted TOO: several downstream
        # actions (count, table commit, audit commit, neardup join)
        # would otherwise each re-run the dup-map aggregation + join
        # over the kernel cache (r3 review finding)
        extracted = enrich_extracted(extracted, held=held) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        held.append(extracted)
    rejected = rejected.persist(StorageLevel.MEMORY_AND_DISK)
    held.append(rejected)
    try:
        n_extracted = extracted.count()
        n_rejected = rejected.count()
        if n_extracted == 0 and n_rejected == 0:
            return {"run_id": run_id, "extracted": 0, "rejected": 0,
                    "snapshot_id": None, "compacted": None,
                    "resumed_noop": True}

        bands_tbl = None
        seen = None
        if neardup_index:
            from ..operators.incremental import (band_signatures,
                                                 seen_and_pairs)
            bands_tbl = SnapshotTable(os.path.join(out_root,
                                                   "neardup_bands"))
            ok_docs = (extracted.filter(F.col("status") == "ok")
                       .select(F.col("url").alias("doc_id"), "text"))
            # signatures derive from the PERSISTED kernel output — the
            # kernel does not run a second time for the index
            new_bands = band_signatures(spark, ok_docs) \
                .persist(StorageLevel.MEMORY_AND_DISK)
            held.append(new_bands)
            idx = bands_tbl.read(spark)
            if idx is not None:
                # seen = replayed urls (crash between the bands commit
                # and the audit commit) — derived from the SAME single
                # broadcast collision join as the pairs: the index
                # streams once and is never shuffled or re-scanned
                seen, pairs = seen_and_pairs(
                    new_bands, idx.select(F.col("url").alias("doc_id"),
                                          "band_id", "band_hash"))
                flags = (pairs.groupBy("doc_id")
                         .agg(F.min("dup_of").alias("neardup_of"))
                         .withColumnRenamed("doc_id", "url"))
            else:  # first run bootstraps the index; nothing to match
                flags = spark.createDataFrame(
                    [], "url string, neardup_of string")
            extracted = extracted.join(F.broadcast(flags), "url", "left")

        snapshot_id = extracted_tbl.commit(
            extracted.filter(F.col("status") == "ok"))
        if bands_tbl is not None:
            to_append = new_bands
            if seen is not None:
                # replay guard: already-indexed urls (seen, batch-sized
                # and broadcastable) are not re-appended
                to_append = new_bands.join(F.broadcast(seen),
                                           "doc_id", "left_anti")
            bands_tbl.commit(to_append.withColumnRenamed("doc_id", "url"))

        audit = extracted.select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.spark_partition_id().alias("partition_id"),
            "url", "doc_type", "status", "error_class",
            "n_pages", "n_chars", "n_links", "extract_ms", "kernel_version",
            F.current_timestamp().alias("committed_at"))
        rej_audit = rejected.select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.spark_partition_id().alias("partition_id"),
            "url", "doc_type", "status", "error_class",
            F.lit(None).cast("int").alias("n_pages"),
            F.lit(None).cast("long").alias("n_chars"),
            F.lit(None).cast("int").alias("n_links"),
            F.lit(None).cast("double").alias("extract_ms"),
            F.lit(None).cast("string").alias("kernel_version"),
            F.current_timestamp().alias("committed_at"))
        audit_tbl.commit(audit.unionByName(rej_audit))

        compacted = None
        if compact_after is not None:
            if len(extracted_tbl.live_snapshots()) >= compact_after:
                # sorted rewrite keeps the manifest min/max stats
                # prunable for url point lookups; keep_versions=2
                # preserves snapshot stamps + tombstones so CDC
                # consumers (--changes-since) survive routine
                # maintenance instead of hitting the re-stamping
                # refusal — extraction rows are write-once per url, so
                # the retained extra version is ~zero storage
                compacted = extracted_tbl.compact(spark, sort=True,
                                                  keep_versions=2)
                extracted_tbl.expire_snapshots()
            # the audit log and band index also land one snapshot per
            # batch, and every resume_filter / index read re-lists and
            # re-reads all of them — same small-file fix, but in
            # append-preserving mode (multiple rows per url; a
            # latest-per-key rewrite would drop band rows and audit
            # history)
            for tbl in (audit_tbl, bands_tbl):
                if (tbl is not None and
                        len(tbl.live_snapshots()) >= compact_after):
                    tbl.compact(spark, mode="append")
                    tbl.expire_snapshots()

        return {"run_id": run_id, "extracted": n_extracted,
                "rejected": n_rejected, "snapshot_id": snapshot_id,
                "compacted": compacted, "resumed_noop": False}
    finally:
        for df in held:
            df.unpersist()
