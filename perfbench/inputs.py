"""Seeded benchmark inputs and their correctness oracles.

Every input is a pure function of ``(workload, seed, size)``:

- pages come from ``sources.pages.synth_doc`` over a seed-chosen doc-id
  window (30% PDFs, a third of those encrypted, 70% HTML, a 2% later
  refetch for ids with ``id % 50 == 1``, one hot domain) plus the edge
  fixtures;
- the ingest sequence adds, per batch, new ids, replays of committed
  urls and republications of committed content under new urls;
- the dedup corpus is a ``documents``/``embeddings``/``eval_docs``
  parquet directory with planted near-duplicate clusters, chains, one
  boilerplate line above the df cap and planted eval contamination.

Inputs are generated in this process (no Spark) and cached under the
work directory keyed by workload, seed and size, so generation stays
outside every timed region. The oracles stored beside them are
computed here in plain Python from the definitions of each query.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from resume_parser_service_spark.sources.pages import (EDGE_URLS,
                                                       fixture_rows,
                                                       synth_doc)

#: doc-id windows start below this bound (seed-chosen, aligned to 50 so
#: the type/refetch mix of a window does not depend on the seed)
_ID_SPACE = 10_000_000

_PAGES_ARROW = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])

#: fixture urls and the audit outcome each must get
FIXTURE_OUTCOME = {
    EDGE_URLS["oversize"]: ("rejected", "FileTooLargeError"),
    EDGE_URLS["bad_magic"]: ("rejected", "InvalidFileTypeError"),
    EDGE_URLS["truncated"]: ("error", "FileProcessingError"),
    EDGE_URLS["locked"]: ("error", "FileProcessingError"),
}


def hash60(s: str) -> int:
    """The engine's 60-bit md5 prefix hash (SQL ``hash60``)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _write_pages(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=_PAGES_ARROW), path)


def _doc_rows(doc_id: int) -> list[dict]:
    """The page rows of one doc id: the base row, plus its later refetch
    for ids with ``id % 50 == 1`` (latest wins)."""
    rows = [synth_doc(doc_id)]
    if doc_id % 50 == 1:
        rows.append(synth_doc(doc_id, dup=True))
    return rows


def _oracle(rows: list[dict]) -> dict[str, str]:
    """url -> expected committed text (the latest ``warc_ts`` wins)."""
    return {r["url"]: r["text"] for r in _latest_rows(rows)}


def _window_start(rng: random.Random, n: int) -> int:
    return rng.randrange(0, (_ID_SPACE - n) // 50) * 50


def _latest_rows(rows: list[dict]) -> list[dict]:
    best: dict[str, dict] = {}
    for r in rows:
        cur = best.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            best[r["url"]] = r
    return list(best.values())


class Cache:
    """Input sets under ``<work>/cache/<key>``: data files plus a pickled
    description. ``get`` returns ``(value, directory, seconds spent)``;
    a hit only reads the description."""

    def __init__(self, work: str):
        self.dir = os.path.join(work, "cache")
        os.makedirs(self.dir, exist_ok=True)

    def get(self, key: str, build):
        t0 = time.perf_counter()
        d = os.path.join(self.dir, key)
        meta = os.path.join(d, "meta.pkl")
        if not os.path.exists(meta):
            tmp = f"{d}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            value = build(tmp)
            with open(os.path.join(tmp, "meta.pkl"), "wb") as fh:
                pickle.dump(value, fh)
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        with open(meta, "rb") as fh:
            value = pickle.load(fh)
        return value, d, time.perf_counter() - t0


# ----------------------------------------------------------- batch_cold --

@dataclass
class PagesSet:
    oracle: dict[str, str]         # url -> expected committed text
    n_rows: int                    # input rows
    kernel_sample: list[int]       # doc ids for the per-kernel timings


def batch_cold_inputs(cache: Cache, seed: int, n_docs: int):
    """``pages.parquet`` (the corpus) and ``warm.parquet`` (a disjoint
    50-id warm-up window)."""
    def build(d: str) -> PagesSet:
        rng = random.Random(f"batch_cold:{seed}")
        start = _window_start(rng, n_docs + 50)
        rows = [r for i in range(start, start + n_docs)
                for r in _doc_rows(i)] + fixture_rows()
        _write_pages(os.path.join(d, "pages.parquet"), rows)
        warm = [r for i in range(start + n_docs, start + n_docs + 50)
                for r in _doc_rows(i)]
        _write_pages(os.path.join(d, "warm.parquet"), warm)
        sample = rng.sample(range(start, start + n_docs), min(n_docs, 120))
        return PagesSet(_oracle(rows), len(rows), sample)

    return cache.get(f"batch_cold-s{seed}-n{n_docs}", build)


# --------------------------------------------------- ingest_incremental --

@dataclass
class IngestBatch:
    path: str                      # file name inside the cache directory
    oracle: dict[str, str]         # url -> expected text (batch urls)
    commit_urls: list[str]         # urls this batch must commit
    republished: dict[str, str]    # new url -> url whose content it copies


@dataclass
class IngestSet:
    boot_oracle: dict[str, str]
    batches: list[IngestBatch]
    kernel_sample: list[int]


def ingest_inputs(cache: Cache, seed: int, n_boot: int, n_new: int,
                  n_replay: int, n_repub: int, n_batches: int):
    """``boot.parquet`` (the index-bootstrap batch, with the fixtures)
    and ``batchNNN.parquet``: each holds ``n_new`` new ids, ``n_replay``
    rows of urls committed earlier and ``n_repub`` committed contents
    under new mirror urls."""
    key = (f"ingest-s{seed}-b{n_boot}-n{n_new}-r{n_replay}-p{n_repub}"
           f"-k{n_batches}")

    def build(d: str) -> IngestSet:
        rng = random.Random(f"ingest:{seed}")
        start = _window_start(rng, n_boot + n_new * n_batches)
        boot = [r for i in range(start, start + n_boot)
                for r in _doc_rows(i)]
        _write_pages(os.path.join(d, "boot.parquet"), boot + fixture_rows())
        committed = _latest_rows(boot)
        batches = []
        nxt = start + n_boot
        for b in range(n_batches):
            new = [r for i in range(nxt, nxt + n_new) for r in _doc_rows(i)]
            nxt += n_new
            replay = rng.sample(committed, n_replay)
            originals = rng.sample(committed, n_repub)
            repub = []
            for j, r in enumerate(originals):
                c = dict(r)
                c["url"] = f"https://mirror{j % 7}.example/s{seed}/b{b}/{j}"
                repub.append(c)
            rows = new + replay + repub
            rng.shuffle(rows)
            name = f"batch{b:03d}.parquet"
            _write_pages(os.path.join(d, name), rows)
            batches.append(IngestBatch(
                name, _oracle(rows),
                sorted({r["url"] for r in new + repub}),
                {c["url"]: o["url"] for c, o in zip(repub, originals)}))
            committed += _latest_rows(new)
        sample = rng.sample(range(start, nxt), min(nxt - start, 120))
        return IngestSet(_oracle(boot + fixture_rows()), batches, sample)

    return cache.get(key, build)


# --------------------------------------------------------- corpus_dedup --

NGRAM_N = 5          # ngram_jaccard_pairs / dedup_clusters shingle size
MAX_DF = 100         # their document-frequency cap
SPAN_N = 16          # repeated_spans n-gram
DECONTAM_N = 8       # contaminated_docs n-gram
COSINE_MIN = 0.45    # embedding_neardup_pairs threshold

# The corpus follows the profile of the catalog's sf0.1 `documents` /
# `embeddings` tables (5,000 documents, 2,000 vectors), measured from
# those tables: 10-100 whitespace tokens per document (uniform, median
# 54) drawn uniformly from the 30 words below; 5% of the documents are
# a copy of another document with the marker token "dup" inserted among
# its last tenth of tokens; no 5-shingle has a document frequency above
# 4; languages en 41% and zh/es/fr/de about 15% each; 20 sources in
# turn; vectors are 64-dim, unit-norm, with Gaussian coordinates and
# random labels 0-9, no pair above cosine 0.7 and about 7e-5 of the
# pairs above 0.45.
SF_VOCAB = ("a agg batch big column customer data fast filter group hash "
            "join key line merge order part query row scan slow small sort "
            "spark stream table the value vector window").split()
SF_DUP_SHARE = 0.05
SF_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
            ("de", 0.14))
SF_SOURCES = 20
SF_DIM = 64


@dataclass
class DedupSet:
    n_docs: int
    n_vecs: int
    pairs: dict            # (a, b) -> (n_shared, jaccard)
    labels: dict           # doc_id -> cluster_id
    spans: list            # sorted (doc_id, span_start, span_end)
    contaminated: dict     # doc_id -> n_hits
    n_band_rows: int       # band_signatures row count
    planted_pairs: list    # ngram near-dup pairs (a < b)
    planted_groups: list   # doc-id lists that must share one cluster
    planted_vec_pairs: list  # (a, b) cosine near-dups above COSINE_MIN


def _shingles(toks: list[str], n: int) -> set[str]:
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _dedup_oracles(texts: dict[int, str]):
    toks = {d: t.split(" ") for d, t in texts.items()}
    # ngram pairs + clusters: distinct hash60 shingles, df-capped groups
    groups: dict[int, list[int]] = {}
    sizes = {}
    for d, tk in toks.items():
        hs = {hash60(s) for s in _shingles(tk, NGRAM_N)}
        sizes[d] = len(hs)
        for h in hs:
            groups.setdefault(h, []).append(d)
    shared: dict[tuple[int, int], int] = {}
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ds in groups.values():
        if not 2 <= len(ds) <= MAX_DF:
            continue
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[(a, b)] = shared.get((a, b), 0) + 1
            ra, rb = find(ds[0]), find(a)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    pairs = {k: (n, n / (sizes[k[0]] + sizes[k[1]] - n))
             for k, n in shared.items()}
    labels = {d: find(d) for d in texts}
    # repeated spans: 16-grams present in >= 2 docs, merged intervals
    owners: dict[int, set] = {}
    pos: dict[int, list[tuple[int, int]]] = {}
    for d, tk in toks.items():
        for i in range(len(tk) - SPAN_N + 1):
            h = hash60(" ".join(tk[i:i + SPAN_N]))
            owners.setdefault(h, set()).add(d)
            pos.setdefault(d, []).append((i, h))
    spans = []
    for d, ps in pos.items():
        cur = None
        for i, h in ps:
            if len(owners[h]) < 2:
                continue
            end = i + SPAN_N - 1
            if cur is not None and cur[1] >= i - 1:
                cur[1] = max(cur[1], end)
            else:
                if cur is not None:
                    spans.append((d, cur[0], cur[1]))
                cur = [i, end]
        if cur is not None:
            spans.append((d, cur[0], cur[1]))
    n_band_rows = 4 * sum(1 for tk in toks.values() if len(tk) > 4)
    return pairs, labels, sorted(spans), n_band_rows


def dedup_inputs(cache: Cache, seed: int, n_docs: int, n_vecs: int):
    """``documents.parquet``, ``embeddings.parquet`` (a catalog ``sf_dir``)
    and ``eval_docs.parquet`` for the decontamination pass."""
    def build(d: str) -> DedupSet:
        rng = random.Random(f"corpus_dedup:{seed}")

        def words(k: int) -> list[str]:
            return [rng.choice(SF_VOCAB) for _ in range(k)]

        toks = {i: words(rng.randint(10, 100)) for i in range(n_docs)}
        free = list(range(n_docs))
        rng.shuffle(free)
        planted_pairs, planted_groups = [], []
        for _ in range(max(1, round(n_docs * SF_DUP_SHARE))):  # "dup" copies
            src, c = sorted((free.pop(), free.pop()))
            t = list(toks[src])
            t.insert(len(t) - rng.randint(1, max(1, len(t) // 10)), "dup")
            toks[c] = t
            planted_groups.append([src, c])
            planted_pairs.append((src, c))
        for _ in range(max(1, n_docs // 500)):        # chained clusters
            ids = [free.pop() for _ in range(4)]
            segs = [words(30) for _ in range(5)]
            for k, i in enumerate(ids):
                toks[i] = segs[k] + segs[k + 1]
            planted_groups.append(sorted(ids))
            planted_pairs += [tuple(sorted(p)) for p in zip(ids, ids[1:])]
        boiler = words(20)                            # df above the cap
        for i in rng.sample(free, min(len(free), MAX_DF + 50)):
            toks[i] = toks[i] + boiler
        texts = {i: " ".join(t) for i, t in toks.items()}
        langs, weights = zip(*SF_LANGS)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": [texts[i] for i in range(n_docs)],
            "lang": rng.choices(langs, weights, k=n_docs),
            "source": [f"src{i % SF_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(texts[i]) for i in range(n_docs)],
                                pa.int64())}),
            os.path.join(d, "documents.parquet"),
            row_group_size=max(1, n_docs // 8))
        # eval set: half are windows copied out of corpus docs
        long_docs = [i for i in range(n_docs) if len(toks[i]) > 12]
        evals = []
        for e in range(20):
            if e % 2 == 0:
                t = toks[rng.choice(long_docs)]
                s = rng.randrange(0, len(t) - 12)
                evals.append(words(4) + t[s:s + 12])
            else:
                evals.append(words(16))
        pq.write_table(pa.table({
            "doc_id": pa.array(range(len(evals)), pa.int64()),
            "text": [" ".join(t) for t in evals]}),
            os.path.join(d, "eval_docs.parquet"))
        eval_sh = set().union(*(_shingles(t, DECONTAM_N) for t in evals))
        contaminated = {}
        for i, t in toks.items():
            hits = len(_shingles(t, DECONTAM_N) & eval_sh)
            if hits:
                contaminated[i] = hits
        # embeddings: unit-norm Gaussian vectors; 2% are planted copies
        # of another vector with tiny noise (cosine about 0.9999)
        nrng = np.random.default_rng(rng.getrandbits(32))
        vecs = nrng.standard_normal((n_vecs, SF_DIM))
        order = nrng.permutation(n_vecs)
        planted_vec_pairs = []
        for k in range(max(1, n_vecs // 50)):
            a, b = sorted(int(x) for x in order[2 * k:2 * k + 2])
            vecs[b] = vecs[a] + 0.01 * nrng.standard_normal(SF_DIM)
            planted_vec_pairs.append((a, b))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
                ).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32())}),
            os.path.join(d, "embeddings.parquet"),
            row_group_size=max(1, n_vecs // 8))
        np.save(os.path.join(d, "vectors.npy"), vecs)
        pairs, labels, spans, n_band_rows = _dedup_oracles(texts)
        return DedupSet(n_docs, n_vecs, pairs, labels, spans, contaminated,
                        n_band_rows, sorted(planted_pairs), planted_groups,
                        planted_vec_pairs)

    return cache.get(f"dedup-sf-s{seed}-d{n_docs}-v{n_vecs}", build)
