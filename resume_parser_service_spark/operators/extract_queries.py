"""Kernel-backed queries with DuckDB-checkable oracles.

These give the driver *byte-identity proof* of the extraction kernels:
the Spark side wraps ``documents.text`` into a synthetic container
(HTML boilerplate template / generated PDF) deterministically, runs the
real extraction kernel, and returns the extracted text — the oracle is
simply ``SELECT doc_id, text FROM documents``, so any extraction byte
drift fails the value-hash. This is the per-row invariant of
BASELINE.json ``input_hint`` made driver-visible.

Also holds the multimodal binary plumbing (real pure-Python PNG/WAV/Y4M
codecs, kernels/media.py), the featurizer-parity query (integer bucket
counts give an EXACT DuckDB twin of the md5 hashing-trick embedding),
and the resume-mapper query (synthetic resumes with doc_id-predictable
mapped fields) — every entry here is value-hash-checkable.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.embed import embed_text
from ..kernels.html_text import extract_html
from ..kernels.pdf_gen import make_pdf
from ..kernels.pdf_text import extract_pdf
from ..kernels.resume_map import map_resume
from .catalog import _spread, register_views

__all__ = ["extract_queries", "extract_oracles"]

# Boilerplate wrapper; the main content block is documents.text
# verbatim, so extraction must return it byte-identically. The bytes
# are built in the kernel (_html_wrap) because the ENCODING cycles by
# doc_id to cover every charset-decode path.
_HTML_TMPL_PRE = ('<!DOCTYPE html><html><head><title>d</title>'
                  '<style>p{margin:0}</style></head><body>'
                  '<nav><ul><li><a href="/a">alpha</a></li>'
                  '<li><a href="/b">beta</a></li></ul></nav>'
                  '<header><h1><a href="/">corpus site</a></h1></header>'
                  '<aside><a href="/x">xx</a> <a href="/y">yy</a> '
                  '<a href="/z">zz</a></aside><article><p>')
_HTML_TMPL_POST = ('</p></article><footer><p>contact &amp; legal '
                   '<a href="/tos">tos</a></p></footer></body></html>')


def _html_wrap(doc_id: int, text: str) -> bytes:
    """Wrap text in the boilerplate template, cycling the ENCODING by
    doc_id so the identity proof also covers every charset-decode path
    of kernels/html_text._decode: plain UTF-8, UTF-8 BOM, a declared
    <meta charset=iso-8859-1> with latin-1 bytes (only when the text is
    latin-1-encodable — deterministic), and UTF-16 with BOM.

    Mode 2 plants a latin-1-only marker ("déjà", bytes E9/E0 followed
    by ASCII = invalid UTF-8) in the <title> BOILERPLATE — extraction
    strips it, so text identity is untouched — which forces _decode
    past its strict-UTF-8 attempt into the declared-charset branch.
    Without the marker the branch is unreachable on ASCII-ish corpora
    (latin-1 bytes of ASCII are valid UTF-8), and worse, mojibake-
    shaped text whose latin-1 bytes happen to be valid UTF-8 (e.g.
    'naïve' written as C3 AF) would decode differently and break the
    byte-identity contract."""
    page = _HTML_TMPL_PRE + text + _HTML_TMPL_POST
    mode = doc_id % 4
    if mode == 1:
        return b"\xef\xbb\xbf" + page.encode("utf-8")
    if mode == 2:
        declared = page.replace(
            "<head><title>d</title>",
            '<head><meta charset="iso-8859-1"><title>d\xe9j\xe0</title>',
            1)
        try:
            return declared.encode("latin-1")
        except UnicodeEncodeError:
            return page.encode("utf-8")
    if mode == 3:
        return page.encode("utf-16")  # LE with BOM
    return page.encode("utf-8")


def _html_extract_kernel(batches: Iterator) -> Iterator:
    import pandas as pd
    for pdf in batches:
        out = pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "extracted": [
                extract_html(_html_wrap(int(i), t))["text"]
                for i, t in zip(pdf["doc_id"], pdf["text"])],
        })
        yield out


# Encryption cycle for the PDF identity proof: every doc round-trips
# the SAME text contract, 4 of 5 through the standard security handler
# (kernels/pdf_crypt.py) — so the driver's value-hash also proves the
# RC4/AES decrypt paths are byte-exact. None = plaintext control.
_ENC_CYCLE = (None, "rc4-40", "rc4-128", "aes-128", "aes-256")


def _pdf_roundtrip_kernel(batches: Iterator) -> Iterator:
    import pandas as pd

    from ..kernels.pdf_crypt import encrypt_pdf
    for pdf in batches:
        outs = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            data = make_pdf([text])
            mode = _ENC_CYCLE[int(doc_id) % len(_ENC_CYCLE)]
            if mode is not None:
                data = encrypt_pdf(data, mode)
            outs.append(extract_pdf(data)["text"])
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "extracted": outs})


def _q_extract_html_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    return _spread(spark, docs) \
        .mapInPandas(_html_extract_kernel,
                     schema="doc_id long, extracted string") \
        .orderBy("doc_id")


def _q_extract_pdf_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    return _spread(spark, docs) \
        .mapInPandas(_pdf_roundtrip_kernel,
                     schema="doc_id long, extracted string") \
        .orderBy("doc_id")


_IDENTITY_ORACLE = ("SELECT doc_id, text AS extracted FROM documents "
                    "ORDER BY doc_id")


def _embed_kernel(batches: Iterator) -> Iterator:
    """Featurizer parity kernel with an EXACT SQL twin: the signed
    bucket counts of the hashing-trick embedding (kernels/embed.py —
    md5 bucket + 9th-hex-digit sign) are integers, so ``l1/sqrt(sumsq)``
    and the bucket-weighted count sum are bit-identical float64/int64 on
    both engines (IEEE div/sqrt are correctly rounded; no float32
    accumulation-order dependence). The shipped ``embed_text`` is also
    run per row and must agree with the integer reconstruction — so the
    driver's value-hash transitively covers the real featurizer."""
    import math

    import numpy as np
    import pandas as pd

    from ..kernels.embed import EMBED_DIM, _TOKEN_RE, _bucket
    for pdf in batches:
        rows = []
        for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
            t = t or ""
            counts: dict[int, int] = {}
            for tok in _TOKEN_RE.findall(t.lower()):
                idx, sign = _bucket(tok, EMBED_DIM)
                counts[idx] = counts.get(idx, 0) + (1 if sign > 0 else -1)
            l1 = sum(abs(c) for c in counts.values())
            sumsq = sum(c * c for c in counts.values())
            checksum = l1 / math.sqrt(sumsq) if sumsq else 0.0
            wsum = sum((i + 1) * c for i, c in counts.items())
            vec = np.asarray(embed_text(t), dtype=np.float32)
            ref = np.zeros(EMBED_DIM, dtype=np.float32)
            for i, c in counts.items():
                ref[i] = c
            norm = float(np.linalg.norm(ref))
            if norm > 0:
                ref /= norm
            if not np.allclose(vec, ref, atol=1e-6):
                raise AssertionError(
                    f"embed_text drifted from its frozen spec at doc "
                    f"{doc_id}")
            rows.append({"doc_id": doc_id, "embed_checksum": checksum,
                         "bucket_weighted": wsum})
        yield pd.DataFrame(rows, columns=["doc_id", "embed_checksum",
                                          "bucket_weighted"])


def _q_embed_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return _spread(spark, spark.table("documents").select("doc_id", "text")) \
        .mapInPandas(_embed_kernel,
                     schema="doc_id long, embed_checksum double, "
                            "bucket_weighted long") \
        .orderBy("doc_id")


# DuckDB twin of the featurizer math (verified bit-exact vs the Python
# integer path on the driver testdata): tokens [a-z0-9]+ over lowercased
# text, bucket = int(md5[:8],16) % 64, sign = parity of md5[8].
_EMBED_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents),
b AS (
  SELECT doc_id,
         cast(cast(concat('0x', substr(md5(tok), 1, 8)) as bigint) % 64
              as int) AS bucket,
         CASE WHEN cast(concat('0x', substr(md5(tok), 9, 1)) as bigint)
                   % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks),
vec AS (SELECT doc_id, bucket, cast(sum(sgn) as bigint) AS v
        FROM b GROUP BY doc_id, bucket),
agg AS (SELECT doc_id,
               cast(sum(abs(v)) as bigint) AS l1,
               cast(sum(v * v) as bigint) AS sumsq,
               cast(sum((bucket + 1) * v) as bigint) AS wsum
        FROM vec GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN coalesce(a.sumsq, 0) > 0
            THEN cast(a.l1 as double) / sqrt(cast(a.sumsq as double))
            ELSE 0.0 END AS embed_checksum,
       coalesce(a.wsum, 0) AS bucket_weighted
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


def _make_payload(doc_id: int, kind: str) -> bytes:
    """Deterministic REAL media container per doc (pure function of
    doc_id): grayscale PNG / 8-bit PCM WAV / YUV4MPEG2 stream. Content
    values are simple doc_id arithmetic so the DuckDB oracle can predict
    what a correct decoder must recover — the encode+decode round trip
    itself is full real format work (zlib/IDAT defilter, RIFF walk, Y4M
    frame striding), not a stub."""
    from ..kernels import jpeg, media
    i = int(doc_id)
    if kind == "image":
        # content moduli coprime to the mod-5 kind cycle, so heights
        # and values still VARY within each kind (r4 review).
        # Alternates PNG / LZW GIF by i%2 (the video arm's Y4M/MJPEG
        # pattern); the GIF half further alternates interlaced and
        # local-color-table placements (i%4) — the gray-ramp palette
        # makes decoded values identical, so one oracle covers all.
        w, h, val = 8 + i % 9, 8 + i % 6, i % 256
        px = bytes([val]) * (w * h)
        if i % 2:
            return media.make_gif(w, h, px, interlace=i % 4 == 1,
                                  local_table=i % 4 == 3)
        return media.make_png(w, h, px)
    if kind == "jpeg":
        # JPEG (kernels/jpeg.py): flat quant table so the solid-gray
        # DC-only block reconstructs the value EXACTLY and the oracle
        # can state the decoded mean. Alternates baseline SOF0 /
        # progressive SOF2 scan scripts (i%2), with the progressive
        # half further split spectral-selection vs successive-
        # approximation (i%4) — decoded values are identical by the
        # codec's byte-identity contract (test_media.py).
        w, h, val = 8 + i % 9, 8 + i % 6, i % 256
        px = bytes([val]) * (w * h)
        if i % 2:
            return jpeg.make_progressive_jpeg(
                w, h, px, quant=jpeg.QUANT_FLAT, successive=i % 4 == 3)
        return jpeg.make_jpeg(w, h, px, quant=jpeg.QUANT_FLAT)
    if kind == "audio":
        n, val = 1000 + i % 500, 64 + i % 100
        return media.make_wav(bytes([val]) * n, rate=8000)
    if kind == "adpcm":
        # IMA-ADPCM (kernels/media.py, format tag 0x11): a constant
        # 16-bit signal round-trips EXACTLY (zero-diff nibbles at step
        # index 0), so the decoded mean is oracle-stateable
        n, val = 500 + i % 300, (i % 2000) - 1000
        return media.make_adpcm_wav([val] * n, rate=8000)
    # video: alternates uncompressed Y4M / MJPEG-in-AVI (per-frame
    # baseline JPEG) by i%2 — constant flat-quant frames decode
    # exactly, so both halves satisfy the same value-exact oracle
    lumas = [i % 200] * (2 + i % 7)
    if i % 2:
        return media.make_mjpeg_avi(16, 8, lumas)
    return media.make_y4m(16, 8, lumas)


def _multimodal_kernel(batches: Iterator) -> Iterator:
    """Multimodal decode/feature/resize/frame-sample over opaque binary
    payloads (kernels/media.py — real pure-Python PNG/WAV/Y4M codecs).
    Uniform typed-metadata schema: dim1/dim2 = width/height (image,
    video) or rate/n_samples (audio); feature = mean pixel / mean
    sample / mean sampled-frame luma; frames_sampled = 1 for stills and
    audio, every-2nd-frame count for video. Image decode additionally
    runs a nearest-neighbor 4x4 resize (thumbnail path)."""
    import pandas as pd

    from ..kernels import media
    for pdf in batches:
        rows = []
        for doc_id, payload, kind in zip(pdf["doc_id"], pdf["payload"],
                                         pdf["media_type"]):
            data = bytes(payload)
            if kind in ("image", "jpeg"):
                if kind == "jpeg":
                    from ..kernels.jpeg import decode_jpeg
                    img = decode_jpeg(data)
                elif data[:4] == b"GIF8":  # LZW GIF half (i%2)
                    img = media.decode_gif(data)
                else:
                    img = media.decode_png(data)
                thumb = media.resize_nearest(img["pixels"], img["width"],
                                             img["height"], 4, 4)
                row = {"dim1": img["width"], "dim2": img["height"],
                       "frames_sampled": 1,
                       "feature": round(sum(thumb) / len(thumb), 4)}
            elif kind == "audio":
                wav = media.decode_wav(data)
                row = {"dim1": wav["rate"], "dim2": wav["n_samples"],
                       "frames_sampled": 1,
                       "feature": round(sum(wav["samples"]) /
                                        len(wav["samples"]), 4)}
            elif kind == "adpcm":
                wav = media.decode_adpcm_wav(data)
                row = {"dim1": wav["rate"], "dim2": wav["n_samples"],
                       "frames_sampled": 1,
                       "feature": round(sum(wav["samples"]) /
                                        len(wav["samples"]), 4)}
            else:
                if data[:4] == b"RIFF":  # MJPEG-in-AVI half (i%2)
                    vid = media.decode_mjpeg_avi(data, sample_every=2)
                else:
                    vid = media.decode_y4m(data, sample_every=2)
                row = {"dim1": vid["width"], "dim2": vid["height"],
                       "frames_sampled": vid["frames_sampled"],
                       "feature": round(vid["mean_sampled_luma"], 4)}
            rows.append({"doc_id": doc_id, "media_type": kind, **row})
        yield pd.DataFrame(rows, columns=["doc_id", "media_type", "dim1",
                                          "dim2", "frames_sampled",
                                          "feature"])


def _q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    payloads = _spread(spark, spark.table("documents").select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 5 = 0 THEN 'image' "
               "WHEN doc_id % 5 = 1 THEN 'audio' "
               "WHEN doc_id % 5 = 2 THEN 'video' "
               "WHEN doc_id % 5 = 3 THEN 'jpeg' "
               "ELSE 'adpcm' END").alias("media_type"))
    ).mapInPandas(_payload_builder,
                  schema="doc_id long, media_type string, payload binary")
    return payloads.mapInPandas(
        _multimodal_kernel,
        schema="doc_id long, media_type string, dim1 long, dim2 long, "
               "frames_sampled long, feature double").orderBy("doc_id")


def _payload_builder(batches: Iterator) -> Iterator:
    import pandas as pd
    for pdf in batches:
        pdf = pdf.copy()
        pdf["payload"] = [_make_payload(d, k) for d, k in
                          zip(pdf["doc_id"], pdf["media_type"])]
        yield pd.DataFrame(pdf, columns=["doc_id", "media_type", "payload"])


_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'image'
            WHEN doc_id % 5 = 1 THEN 'audio'
            WHEN doc_id % 5 = 2 THEN 'video'
            WHEN doc_id % 5 = 3 THEN 'jpeg'
            ELSE 'adpcm' END AS media_type,
       cast(CASE WHEN doc_id % 5 IN (1, 4) THEN 8000
                 WHEN doc_id % 5 = 2 THEN 16
                 ELSE 8 + doc_id % 9 END as bigint) AS dim1,
       cast(CASE WHEN doc_id % 5 = 1 THEN 1000 + doc_id % 500
                 WHEN doc_id % 5 = 2 THEN 8
                 WHEN doc_id % 5 = 4 THEN 500 + doc_id % 300
                 ELSE 8 + doc_id % 6 END as bigint) AS dim2,
       cast(CASE WHEN doc_id % 5 = 2
                 THEN (2 + doc_id % 7 + 1) // 2
                 ELSE 1 END as bigint) AS frames_sampled,
       cast(CASE WHEN doc_id % 5 = 1 THEN 64 + doc_id % 100
                 WHEN doc_id % 5 = 2 THEN doc_id % 200
                 WHEN doc_id % 5 = 4 THEN doc_id % 2000 - 1000
                 ELSE doc_id % 256 END as double) AS feature
FROM documents ORDER BY doc_id"""


def _make_resume_text(i: int) -> str:
    """Deterministic synthetic resume, pure function of doc_id — the
    ``multimodal_metadata`` pattern: every mapped field the query emits
    is doc_id arithmetic the DuckDB oracle can state, while the parse
    itself is the real section splitter / contact finder / group
    parsers (kernels/resume_map.py) doing full work."""
    i = int(i)
    langs = ["English - C1", "Italian - Native", "French - B2"]
    hobbies = ["chess", "rowing", "baking", "astronomy"]
    lines = [
        "Alex Carter",
        f"Email: user{i}@example.org",
        f"Phone: +39 0255 123 {100 + i % 900}",
        "",
        "EDUCATION",
        "",
    ]
    for j in range(1 + i % 3):
        lines += ["Master in Physics",
                  f"University of Testing {j}",
                  "2010 - 2014", ""]
    lines += ["WORK EXPERIENCE", ""]
    for j in range(1 + i % 2):
        lines += [f"Acme Corp {j}",
                  "Software Engineer 01/2015 - 12/2018",
                  ""]
    lines += ["LANGUAGES", ""]
    lines += langs[: 1 + i % 3] + [""]
    lines += ["INTERESTS", "", ", ".join(hobbies[: 2 + i % 3])]
    return "\n".join(lines)


def _resume_kernel(batches: Iterator) -> Iterator:
    import pandas as pd
    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"]:
            r = map_resume(_make_resume_text(doc_id), [])
            pi = r["personal_information"] or {}
            rows.append({
                "doc_id": doc_id,
                "email": pi.get("email"),
                "phone_prefix": pi.get("phone_prefix"),
                "phone": pi.get("phone"),
                "n_education": len(r["education_details"] or []),
                "n_experience": len(r["experience_details"] or []),
                "n_languages": len(r["languages"] or []),
                "n_interests": len(r["interests"] or []),
                "n_sections": sum(1 for v in r.values() if v),
            })
        yield pd.DataFrame(rows, columns=[
            "doc_id", "email", "phone_prefix", "phone", "n_education",
            "n_experience", "n_languages", "n_interests", "n_sections"])


def _q_resume_map_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume mapper with a value-exact oracle: synthetic resumes whose
    mapped contact fields and per-section entry counts are predictable
    doc_id arithmetic (the real-PDF fidelity goldens live in
    tests/test_resume_map.py vs the reference's own cv_output)."""
    register_views(spark, sf_dir)
    return _spread(spark, spark.table("documents").select("doc_id")) \
        .mapInPandas(_resume_kernel,
                     schema="doc_id long, email string, "
                            "phone_prefix string, phone string, "
                            "n_education int, n_experience int, "
                            "n_languages int, n_interests int, "
                            "n_sections int") \
        .orderBy("doc_id")


_RESUME_MAP_ORACLE = """
SELECT doc_id,
       'user' || cast(doc_id as varchar) || '@example.org' AS email,
       '+39' AS phone_prefix,
       '0255 123 ' || cast(100 + doc_id % 900 as varchar) AS phone,
       cast(1 + doc_id % 3 as int) AS n_education,
       cast(1 + doc_id % 2 as int) AS n_experience,
       cast(1 + doc_id % 3 as int) AS n_languages,
       cast(2 + doc_id % 3 as int) AS n_interests,
       cast(5 as int) AS n_sections
FROM documents ORDER BY doc_id
"""


def _pdf_image_kernel(batches: Iterator) -> Iterator:
    """Per-doc synthetic 2-page PDF with embedded image XObjects
    (page 0: solid flat-quant JPEG under /DCTDecode, page 1: solid
    FlateDecode /DeviceGray), scanned back by
    ``kernels/pdf_text.pdf_image_metadata`` — real container write,
    real JPEG/Flate decode, oracle-stateable solid means."""
    import pandas as pd

    from ..kernels import jpeg
    from ..kernels.pdf_gen import make_pdf
    from ..kernels.pdf_text import pdf_image_metadata
    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            w1, h1, v1 = 8 + i % 9, 8 + i % 6, i % 256
            w2, h2, v2 = 4 + i % 7, 4 + i % 5, (3 * i) % 256
            data = make_pdf(
                ["first page text", "second page text"],
                images=[[{"kind": "jpeg", "width": w1, "height": h1,
                          "data": jpeg.make_jpeg(
                              w1, h1, bytes([v1]) * (w1 * h1),
                              quant=jpeg.QUANT_FLAT)}],
                        [{"kind": "gray", "width": w2, "height": h2,
                          "pixels": bytes([v2]) * (w2 * h2)}]])
            for r in pdf_image_metadata(data):
                rows.append({"doc_id": i, "page": r["page"],
                             "fmt": r["filter"], "width": r["width"],
                             "height": r["height"],
                             "mean_value": r["mean_value"]})
        yield pd.DataFrame(rows, columns=["doc_id", "page", "fmt",
                                          "width", "height",
                                          "mean_value"])


def _q_pdf_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return _spread(spark, spark.table("documents").select("doc_id")).mapInPandas(
        _pdf_image_kernel,
        schema="doc_id long, page long, fmt string, width long, "
               "height long, mean_value double").orderBy("doc_id", "page")


_PDF_IMAGE_ORACLE = """
SELECT doc_id, cast(0 as bigint) AS page, 'DCTDecode' AS fmt,
       cast(8 + doc_id % 9 as bigint) AS width,
       cast(8 + doc_id % 6 as bigint) AS height,
       cast(doc_id % 256 as double) AS mean_value
FROM documents
UNION ALL
SELECT doc_id, cast(1 as bigint) AS page, 'FlateDecode' AS fmt,
       cast(4 + doc_id % 7 as bigint) AS width,
       cast(4 + doc_id % 5 as bigint) AS height,
       cast((3 * doc_id) % 256 as double) AS mean_value
FROM documents
ORDER BY doc_id, page
"""


def _raster_kernel(batches: Iterator) -> Iterator:
    """A3 rasterize (SURVEY.md §2): wrap each document's text at 64
    chars/line, write a real PDF, parse it back, and stamp the parsed
    text runs onto a grayscale canvas with the built-in 5x7 font
    (kernels/raster.py). Every emitted stat is measured from the
    rendered output — canvas dims from the run bounding box, ink
    counted from the bitmap — while staying a pure function of the
    text, so the DuckDB oracle can state all of them exactly."""
    import pandas as pd

    from ..kernels.pdf_gen import make_pdf
    from ..kernels.raster import rasterize_pdf
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            wrapped = "\n".join(text[i:i + 64]
                                for i in range(0, len(text), 64))
            for page in rasterize_pdf(make_pdf([wrapped]), png=False):
                rows.append({"doc_id": doc_id, "page": page["page"],
                             "width": page["width"],
                             "height": page["height"],
                             "n_glyphs": page["n_glyphs"],
                             "ink_pixels": page["ink_pixels"]})
        yield pd.DataFrame(rows, columns=["doc_id", "page", "width",
                                          "height", "n_glyphs",
                                          "ink_pixels"])


def _q_rasterize_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Project text onto the oracle's stated domain — printable ASCII,
    # nonempty — IN THE QUERY, mirrored in the oracle SQL, so kernel
    # and oracle stay in lockstep on any corpus (embedded newlines,
    # tabs, or empty docs would otherwise diverge: the PDF round-trip
    # drops control chars the oracle's length() formulas would count).
    docs = spark.table("documents").select(
        "doc_id",
        F.regexp_replace("text", "[^ -~]", "").alias("text"),
    ).filter(F.length("text") > 0)
    return _spread(spark, docs).mapInPandas(
        _raster_kernel,
        schema="doc_id long, page long, width long, height long, "
               "n_glyphs long, ink_pixels long").orderBy("doc_id", "page")


def _raster_oracle() -> str:
    """Generated from the SAME font table the renderer stamps: per-char
    ink popcounts as a VALUES list. The check therefore validates the
    rendering pipeline — run parsing, grid stamping, crop bounds,
    bitmap ink counting — not the font art (which is its own spec)."""
    from ..kernels.raster import FONT
    rows = ", ".join(
        "(%d, %d)" % (ord(ch), sum(r.count("#") for r in rows))
        for ch, rows in sorted(FONT.items()))
    return f"""
WITH ink_table(code, ink) AS (VALUES {rows}),
docs AS (
  SELECT doc_id, t AS text
  FROM (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
        FROM documents)
  WHERE length(t) > 0),
chars AS (
  SELECT doc_id, unicode(c) AS code
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM docs)),
per AS (
  SELECT c.doc_id,
         sum(CASE WHEN c.code < 33 OR c.code IN (127, 160)
                  THEN 0 ELSE 1 END) AS n_glyphs,
         sum(CASE WHEN c.code < 33 OR c.code IN (127, 160) THEN 0
                  ELSE coalesce(i.ink, 20) END) AS ink_pixels
  FROM chars c LEFT JOIN ink_table i ON c.code = i.code
  GROUP BY c.doc_id)
SELECT d.doc_id,
       cast(0 as bigint) AS page,
       cast(4 + 6 * least(64, length(d.text)) as bigint) AS width,
       cast(4 + 7 + 14 * (cast(ceil(length(d.text) / 64.0) as bigint) - 1)
            as bigint) AS height,
       cast(coalesce(p.n_glyphs, 0) as bigint) AS n_glyphs,
       cast(coalesce(p.ink_pixels, 0) as bigint) AS ink_pixels
FROM docs d LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


def _mp3_kernel(batches: Iterator) -> Iterator:
    """MP3 frame-header metadata walk (kernels/media.py) over payloads
    synthesized from doc_id: per-doc sample rate (3-cycle), frame count
    (9-cycle), CBR (even doc_id) or two-bitrate alternating VBR (odd),
    a padding bit every 3rd frame, an ID3v2 prefix on doc_id%4==1 and
    an ID3v1 trailer on doc_id%4==3 — every emitted field is integer
    arithmetic on doc_id (mean bitrate: exact int-valued doubles), so
    the DuckDB oracle states all of them exactly."""
    import pandas as pd

    from ..kernels import media
    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            rate = (44100, 48000, 32000)[i % 3]
            n = 4 + i % 9
            a = media._MP3_BITRATES[1 + i % 14]
            b = media._MP3_BITRATES[1 + (i + 5) % 14]
            kbps = [a] * n if i % 2 == 0 else \
                [(a, b)[j % 2] for j in range(n)]
            meta = media.decode_mp3_metadata(media.make_mp3(
                kbps, rate=rate, pad_every=3,
                id3v2=b"x" * 17 if i % 4 == 1 else None,
                id3v1=i % 4 == 3))
            rows.append({"doc_id": i, **meta})
        yield pd.DataFrame(rows, columns=["doc_id", "n_frames",
                                          "sample_rate", "duration_ms",
                                          "mean_bitrate_kbps", "vbr"])


def _q_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return _spread(spark, spark.table("documents").select("doc_id")) \
        .mapInPandas(_mp3_kernel,
                     schema="doc_id long, n_frames long, "
                            "sample_rate long, duration_ms long, "
                            "mean_bitrate_kbps double, vbr boolean") \
        .orderBy("doc_id")


_MP3_ORACLE = """
WITH br(idx, kbps) AS (VALUES (1,32),(2,40),(3,48),(4,56),(5,64),
  (6,80),(7,96),(8,112),(9,128),(10,160),(11,192),(12,224),(13,256),
  (14,320)),
base AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS rate,
         4 + doc_id % 9 AS n,
         1 + doc_id % 14 AS ia,
         1 + (doc_id + 5) % 14 AS ib,
         doc_id % 2 = 1 AS is_vbr
  FROM documents)
SELECT b.doc_id,
       cast(b.n AS bigint) AS n_frames,
       cast(b.rate AS bigint) AS sample_rate,
       cast(b.n * 1152000 // b.rate AS bigint) AS duration_ms,
       round(CASE WHEN b.is_vbr
                  THEN (ceil(b.n / 2.0) * a.kbps
                        + floor(b.n / 2.0) * c.kbps) / b.n
                  ELSE a.kbps END, 4) AS mean_bitrate_kbps,
       b.is_vbr AS vbr
FROM base b JOIN br a ON a.idx = b.ia JOIN br c ON c.idx = b.ib
ORDER BY b.doc_id
"""


def _h264_kernel(batches: Iterator) -> Iterator:
    """Annex-B H.264 synthesized from doc_id (kernels/media.py walk):
    per-doc resolution with frame-cropping exercised by the -2*(i%4) /
    -2*(i%3) offsets, Baseline (even doc_id) or High profile (odd, the
    chroma/bit-depth SPS branch), level cycling 30/40/50, AUD
    delimiters on doc_id%4==2 — every emitted field is integer
    arithmetic on doc_id, so the DuckDB oracle states all of them."""
    import pandas as pd

    from ..kernels import media
    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            meta = media.decode_h264_metadata(media.make_h264(
                32 + 16 * (i % 8) - 2 * (i % 4),
                32 + 16 * (i % 5) - 2 * (i % 3),
                1 + i % 7,
                profile_idc=66 if i % 2 == 0 else 100,
                level_idc=30 + 10 * (i % 3),
                aud=i % 4 == 2))
            rows.append({"doc_id": i, **meta})
        yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                          "profile", "level",
                                          "n_frames", "n_idr", "n_nals"])


def _q_h264_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return _spread(spark, spark.table("documents").select("doc_id")) \
        .mapInPandas(_h264_kernel,
                     schema="doc_id long, width long, height long, "
                            "profile long, level long, n_frames long, "
                            "n_idr long, n_nals long") \
        .orderBy("doc_id")


_H264_ORACLE = """
SELECT doc_id,
       cast(32 + 16 * (doc_id % 8) - 2 * (doc_id % 4) AS bigint) AS width,
       cast(32 + 16 * (doc_id % 5) - 2 * (doc_id % 3) AS bigint) AS height,
       cast(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 100 END AS bigint)
           AS profile,
       cast(30 + 10 * (doc_id % 3) AS bigint) AS level,
       cast(1 + doc_id % 7 AS bigint) AS n_frames,
       cast(1 AS bigint) AS n_idr,
       cast(2 + (1 + doc_id % 7)
            * CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 1 END AS bigint)
           AS n_nals
FROM documents
ORDER BY doc_id
"""


def extension_queries() -> dict:
    """Queries registered AFTER the driver-checked window (the catalog
    keeps the first 50 keys stable across rounds; these are verified by
    tools/check_oracle.py and pytest instead)."""
    return {"pdf_image_metadata": _q_pdf_image_metadata,
            "mp3_metadata": _q_mp3_metadata,
            "h264_metadata": _q_h264_metadata}


def extension_oracles() -> dict:
    return {"pdf_image_metadata": _PDF_IMAGE_ORACLE,
            "mp3_metadata": _MP3_ORACLE,
            "h264_metadata": _H264_ORACLE}


def extract_queries() -> dict:
    return {
        "extract_html_identity": _q_extract_html_identity,
        "extract_pdf_identity": _q_extract_pdf_identity,
        "embed_checksum": _q_embed_checksum,
        "multimodal_metadata": _q_multimodal_metadata,
        "resume_map_sections": _q_resume_map_sections,
        "rasterize_pages": _q_rasterize_pages,
    }


def extract_oracles() -> dict:
    return {
        "extract_html_identity": _IDENTITY_ORACLE,
        "extract_pdf_identity": _IDENTITY_ORACLE,
        "multimodal_metadata": _MULTIMODAL_ORACLE,
        "embed_checksum": _EMBED_ORACLE,
        "resume_map_sections": _RESUME_MAP_ORACLE,
        "rasterize_pages": _raster_oracle(),
    }
