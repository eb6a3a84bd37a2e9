"""The extraction dataflow: pages -> (extracted, audit).

Plan shape (SURVEY.md §3.1 rebuild):

    scan(pages)
      -> cheap validation predicates         (BEFORE the opaque Python stage —
                                              Catalyst cannot push filters
                                              through mapInPandas)
      -> [salt_partitions=N] repartition by xxhash64(url)
                                             (skew defense when the input
                                              file layout is skewed)
      -> mapInPandas(extraction kernel)      (one Arrow crossing per batch)
      -> latest-wins dedup per url           (window row_number, B5 semantics)
      -> extracted rows; audit rows split off

Deliberate ordering for 100 TB scale: the kernel runs as a pure map
stage over the scan, and the url dedup shuffle happens AFTER extraction
— it then moves extracted text/JSON (KBs/row) instead of raw ``html``
(up to 10 MB/row). Extraction is deterministic per row, so
extract-then-dedup is equivalent to dedup-then-extract; the ~2% of
duplicate urls cost two kernel invocations instead of shuffling the
whole corpus. The pre-kernel salted repartition (``salt_partitions``)
stays available for inputs whose *file* layout is skewed (one giant
WARC); with a well-split columnar source,
``spark.sql.files.maxPartitionBytes`` already balances scan tasks
byte-wise.

Validation mirrors the reference's upload gate: 10 MB cap and magic-byte
sniff (/root/reference/app/routers/resume_ingestor_router.py:26-28,
102-110); rejects become audit rows with an error taxonomy mirroring
/root/reference/app/core/exceptions.py class names instead of HTTP 400s.
"""

from __future__ import annotations

import time
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import embed, html_text, pdf_text, resume_map
from ..schema import EXTRACT_SCHEMA, MAX_FILE_SIZE, canonical_resume_json

__all__ = ["dedup_latest", "validate_pages", "extract_pages",
           "validate_extracted", "enrich_extracted",
           "PIPELINE_KERNEL_VERSION"]

PIPELINE_KERNEL_VERSION = "+".join([pdf_text.KERNEL_VERSION,
                                    html_text.KERNEL_VERSION,
                                    resume_map.KERNEL_VERSION,
                                    embed.KERNEL_VERSION])

_SALT = 0x5EED


def dedup_latest(df: DataFrame, key: str = "url",
                 order: str = "warc_ts") -> DataFrame:
    """One row per key, latest ``order`` wins — the replace-on-key
    upsert semantics of /root/reference/app/services/resume_service.py:
    106-182 (SURVEY.md B5). Implemented as max_by aggregation rather
    than a row_number window: max_by over a struct compiles to
    SortAggregate (struct buffers aren't hash-aggregable), but the
    partial/final split survives — each partition pre-combines to one
    buffer row per key before the exchange, so only KB-scale winners
    shuffle, vs the window's full-data sort shuffle at 10^12 rows.

    Ties on ``order`` (common for WARC refetches of the same url) are
    broken by xxhash64 over the remaining columns, so the winner is a
    pure function of row content — never partition order — preserving
    the pipeline's byte-identity/determinism contract across runs and
    cluster layouts."""
    rest = [c for c in df.columns if c != key]
    rank = F.struct(F.col(order).alias("o"),
                    F.xxhash64(*[F.col(c) for c in rest]).alias("t"))
    return (df.groupBy(key)
            .agg(F.max_by(F.struct(*rest), rank).alias("_row"))
            .select(key, "_row.*"))


def validate_pages(pages: DataFrame) -> DataFrame:
    """Attach ``doc_type`` / pre-kernel rejection columns. Pure JVM-side
    expressions (whole-stage codegen); no Python involved."""
    magic4 = F.expr("substring(html, 1, 4)")
    head64 = F.lower(F.expr("cast(substring(html, 1, 64) as string)"))
    bom2 = F.expr("substring(html, 1, 2)")
    is_pdf = magic4 == F.lit(b"%PDF")
    is_html = (F.expr("substring(html, 1, 1)") == F.lit(b"<")) | \
        head64.contains("<html") | head64.contains("<!doctype") | \
        (bom2 == F.lit(b"\xff\xfe")) | (bom2 == F.lit(b"\xfe\xff"))
    doc_type = (F.when(is_pdf, F.lit("pdf"))
                 .when(is_html, F.lit("html"))
                 .otherwise(F.lit("invalid")))
    oversize = F.length(F.col("html")) > MAX_FILE_SIZE
    # taxonomy mirrors /root/reference/app/core/exceptions.py:173,183
    reject = (F.when(oversize, F.lit("FileTooLargeError"))
               .when(doc_type == "invalid", F.lit("InvalidFileTypeError")))
    return pages.withColumn("doc_type", doc_type) \
                .withColumn("reject_class", reject)


# A9 residual-validation shapes (/root/reference/app/schemas/resume.py:
# 13 zip_code max_length=10; :16-18 EmailStr / AnyUrl refinement types)
_EMAIL_SHAPE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
_URL_SHAPE = r"^https?://\S+$"


def validate_extracted(extracted: DataFrame) -> DataFrame:
    """Attach the A9 residual-validation column: struct conformance is
    by construction (the kernel emits canonical JSON of RESUME_SCHEMA),
    so what remains are the reference's Pydantic refinement checks —
    zip_code length, email shape, github/linkedin URL shape. Pure
    JVM-side expressions (from_json + rlike inside whole-stage codegen);
    failures become audit rows, not exceptions (SURVEY.md A9)."""
    from ..schema import RESUME_SCHEMA
    pi = F.from_json(F.col("resume_json"), RESUME_SCHEMA)[
        "personal_information"]

    def bad_url(field: str) -> F.Column:
        return (pi[field].isNotNull() &
                ~pi[field].rlike(_URL_SHAPE))

    errs = F.array_compact(F.array(
        F.when(F.length(pi["zip_code"]) > 10, F.lit("zip_code_too_long")),
        F.when(pi["email"].isNotNull() & ~pi["email"].rlike(_EMAIL_SHAPE),
               F.lit("invalid_email")),
        F.when(bad_url("github"), F.lit("invalid_github_url")),
        F.when(bad_url("linkedin"), F.lit("invalid_linkedin_url")),
    ))
    return extracted.withColumn(
        "validation_errors",
        F.when(F.col("resume_json").isNotNull(), errs)
         .otherwise(F.array().cast("array<string>")))


def _kernel(batches: Iterator) -> Iterator:
    """Arrow-batched extraction kernel. Row errors become status='error'
    rows (taxonomy per /root/reference/app/core/exceptions.py), never
    task failures — Spark task retry handles infra faults (A12)."""
    import pandas as pd

    names = [f.name for f in EXTRACT_SCHEMA]
    for pdf in batches:
        # column-wise accumulation: pd.DataFrame over a list of row
        # dicts re-parses every dict per row and re-infers dtypes —
        # measured ~2x the conversion cost of building the columns
        # directly at this row width (optimization guide §4.2)
        cols: dict[str, list] = {n: [] for n in names}
        for url, warc_ts, html, lang, doc_type in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"],
                pdf["doc_type"]):
            t0 = time.perf_counter()
            status, err, text, links, n_pages = "ok", None, "", [], 0
            resume_json, flat_text, vector = None, None, None
            try:
                data = bytes(html)
                if doc_type == "pdf":
                    res = pdf_text.extract_pdf(data)
                else:
                    res = html_text.extract_html(data)
                text, links, n_pages = res["text"], res["links"], res["n_pages"]
                resume = resume_map.map_resume(text, links)
                resume_json = canonical_resume_json(resume)
                flat_text = resume_map.resume_to_text(resume)
                vector = embed.embed_text(flat_text)
            except pdf_text.PdfError:
                # /root/reference/app/core/exceptions.py:163
                status, err = "error", "FileProcessingError"
            except Exception:
                # /root/reference/app/core/exceptions.py:133
                status, err = "error", "ResumeValidationError"
            cols["url"].append(url)
            cols["warc_ts"].append(warc_ts)
            cols["lang"].append(lang)
            cols["doc_type"].append(doc_type)
            cols["status"].append(status)
            cols["error_class"].append(err)
            cols["text"].append(text)
            cols["links"].append(links)
            cols["resume_json"].append(resume_json)
            cols["flat_text"].append(flat_text)
            cols["vector"].append(vector)
            cols["n_pages"].append(int(n_pages))
            cols["n_chars"].append(len(text))
            cols["n_links"].append(len(links))
            cols["extract_ms"].append((time.perf_counter() - t0) * 1000.0)
            cols["kernel_version"].append(PIPELINE_KERNEL_VERSION)
        yield pd.DataFrame(cols, columns=names)


def extract_pages(pages: DataFrame, salt_partitions: int | None = None,
                  dedup: bool = True) -> tuple[DataFrame, DataFrame]:
    """Run the extraction pipeline. Returns ``(extracted, rejected)`` —
    ``extracted`` in EXTRACT_SCHEMA (incl. per-row kernel errors), one
    row per url (latest warc_ts wins), ``rejected`` holds pre-kernel
    validation rejects.

    ``salt_partitions=N`` repartitions the validated input into N
    partitions by xxhash64(url) before the kernel — only worth the
    byte movement when the source file layout itself is skewed.
    ``None`` (the default) runs the kernel over the scan's own splits."""
    v = validate_pages(pages)
    ok = v.filter(F.col("reject_class").isNull())
    rejected = (v.filter(F.col("reject_class").isNotNull())
                .select("url", "warc_ts", "lang", "doc_type",
                        F.lit("rejected").alias("status"),
                        F.col("reject_class").alias("error_class"),
                        F.length("html").alias("n_bytes")))
    if salt_partitions is not None:
        ok = ok.repartition(salt_partitions,
                            F.xxhash64(F.col("url"), F.lit(_SALT)))
    extracted = ok.select("url", "warc_ts", "html", "lang", "doc_type") \
                  .mapInPandas(_kernel, schema=EXTRACT_SCHEMA)
    if dedup:
        extracted = dedup_latest(extracted)
    return extracted, rejected


#: enrich_extracted broadcasts the content-dup canonical map only when
#: it has at most this many rows (~150 B/row -> ~150 MB at the cap); a
#: mirror-heavy crawl whose dup map exceeds it falls back to a shuffle
#: join instead of blowing the executor broadcast budget.
DUP_MAP_BROADCAST_MAX_ROWS = 1_000_000


def enrich_extracted(extracted: DataFrame,
                     dup_map_broadcast_max: int = DUP_MAP_BROADCAST_MAX_ROWS,
                     held: list | None = None) -> DataFrame:
    """Training-data annotations over extracted rows — pure JVM-side
    expressions (one window shuffle for content-dup marking, everything
    else map-side), mirroring the formulas of the catalog queries
    `token_count` / `quality_score` / `lang_id_heuristic` /
    `dedup_exact` so the standalone queries double as oracles:

    - ``fingerprint``: md5 of extracted text (exact-dedup key)
    - ``content_dup_of``: canonical url (min url per fingerprint) when
      this row is a content duplicate, else NULL — latest-wins URL
      dedup catches refetches of the SAME url; this catches the same
      CONTENT republished under many urls (mirrors, CDNs)
    - ``ws_tokens`` / ``bpe_est_tokens``: whitespace + ~4-chars/token
    - ``stopword_ratio`` / ``punct_ratio`` / ``mean_token_len``
    - ``lang_guess``: stopword-vote language id
    - ``dup_line_fraction`` / ``dup_bigram_fraction``: Gopher-style
      repetition signals as per-row array expressions (same values as
      ``operators.quality.repetition_signals``, zero extra shuffle)

    ``held``: a list that receives the persisted dup map when it fits
    the broadcast gate, for the caller to unpersist once done with the
    result (``run_extraction_job`` does, in its ``finally``). Without
    it the map stays cached until the session ends.
    """
    toks = F.split(F.col("text"), " ")

    def hits(words: list[str]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    en, it = hits(["the", "and", "of", "is", "that"]), \
        hits(["il", "di", "che", "la", "non"])
    de, es = hits(["der", "und", "die", "ist", "das"]), \
        hits(["el", "de", "la", "que", "es"])
    best = F.greatest(en, it, de, es)
    out = (extracted
           .withColumn("fingerprint", F.md5(F.col("text")))
           .withColumn("ws_tokens", F.size(toks))
           .withColumn("bpe_est_tokens",
                       F.ceil(F.length(F.replace(F.col("text"), F.lit(" "),
                                                 F.lit(""))) / 4.0)
                       .cast("bigint"))
           .withColumn("stopword_ratio",
                       F.round(F.try_divide(
                           hits(["the", "and", "of", "to", "a", "in"])
                           .cast("double"), F.size(toks)), 6))
           .withColumn("punct_ratio",
                       F.round(F.try_divide(
                           F.length(F.regexp_replace(
                               "text", "[a-z0-9 ]", "")).cast("double"),
                           F.length("text")), 6))
           .withColumn("mean_token_len",
                       F.round(F.try_divide(F.length("text").cast("double"),
                                            F.size(toks)), 6))
           .withColumn("lang_guess",
                       F.when(best == 0, "und")
                        .when(best == en, "en").when(best == it, "it")
                        .when(best == de, "de").otherwise("es"))
           .withColumn("dup_line_fraction", F.expr(
               "round(cast(size(split(text, '\\n')) - "
               "size(array_distinct(split(text, '\\n'))) as double) "
               "/ size(split(text, '\\n')), 6)"))
           .withColumn("dup_bigram_fraction", F.expr(
               "round(CASE WHEN size(split(text, ' ')) >= 2 THEN "
               "cast(size(split(text, ' ')) - 1 - size(array_distinct("
               "transform(sequence(0, size(split(text, ' ')) - 2), "
               "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)"
               ")))) as double) / (size(split(text, ' ')) - 1) "
               "ELSE 0.0 END, 6)")))
    # Content-dup canonical via an aggregate over the (fingerprint, url)
    # PROJECTION + broadcast join — only key pairs ever shuffle. The r2
    # Window.partitionBy(fingerprint) formulation shuffled every
    # enriched column (the plan's only avoidable full-width exchange);
    # the dup-canonical map (fingerprints with >1 copy only) is orders
    # of magnitude smaller than the corpus, so it broadcasts. NB: the
    # map is a SECOND traversal of the input frame — callers persist
    # the kernel output first (pipeline/run.py does) so this reads the
    # cache instead of re-running extraction.
    dup_map = (out.select("fingerprint", "url")
               .groupBy("fingerprint")
               .agg(F.min("url").alias("_canonical_url"),
                    F.count(F.lit(1)).alias("_n_copies"))
               .filter(F.col("_n_copies") > 1)
               .select("fingerprint", "_canonical_url"))
    # Size-gate the broadcast (r3 verdict): on realistic dup rates the
    # map is tiny, but a mirror-heavy corpus can make it corpus-sized.
    # The gate's count runs over a PERSISTED dup map so the
    # aggregation (and the input lineage above it) is computed once —
    # the join then reads the cache. Within the gate the cache is
    # bounded (<= dup_map_broadcast_max key pairs) and handed to the
    # caller through ``held``; past the gate it is dropped immediately
    # and the shuffle join recomputes the pruned agg inside its own
    # plan (AQE's runtime threshold still gets the final say).
    from pyspark.storagelevel import StorageLevel
    dup_map = dup_map.persist(StorageLevel.MEMORY_AND_DISK)
    if dup_map.count() <= dup_map_broadcast_max:
        dup_side = F.broadcast(dup_map)
        if held is not None:
            held.append(dup_map)
    else:
        dup_map.unpersist()
        dup_side = dup_map
    return (out.join(dup_side, "fingerprint", "left")
            .withColumn(
                "content_dup_of",
                F.when(F.col("url") == F.col("_canonical_url"),
                       F.lit(None).cast("string"))
                 .otherwise(F.col("_canonical_url")))
            .drop("_canonical_url"))
