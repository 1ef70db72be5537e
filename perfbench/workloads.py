"""The benchmark's workloads.

Each workload builds its inputs from the seed during set-up, then issues a
fixed cycle of requests in a closed loop (one client; each request starts
when the previous one ends) until the measuring window closes. A request is
one call into the package's public functions, timed from the call to its
last output row. Requests open a span around each layer they run through,
so the traced run (``Tracer`` enabled) records where the time goes; with
tracing off the spans cost nothing and no layer output is staged.

Why these two: ``search_refresh`` is the reference's vector pipeline, read
side first (IVF probe and re-rank, ``search_df``) with the write side beside
it (EP1 extract, chunk, embed, then ``IvfIndex.add`` and ``compact``; the
base index build runs in set-up). ``corpus_dedup`` is the shuffle-heavy
curation path (MinHash bands, component closure, gates, packing, the
banded-hamming join), where every vector layer sits idle.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.functions.chunker import chunk_by_words
from oracle_vectorsearch_example_spark.functions.embedding import HashingEmbedder
from oracle_vectorsearch_example_spark.functions.extract import (
    render_document,
    with_extracted_text,
)
from oracle_vectorsearch_example_spark.functions.phash import (
    phash_band_table,
    phash_neardup_pairs,
)
from oracle_vectorsearch_example_spark.operators.dedup import (
    dedup_by_components,
    minhash_band_table,
    minhash_lsh_pairs,
    neardup_components,
)
from oracle_vectorsearch_example_spark.operators.packing import pack_sequences
from oracle_vectorsearch_example_spark.operators.sampling import hash_split
from oracle_vectorsearch_example_spark.functions.textstats import text_metrics_df
from oracle_vectorsearch_example_spark.plans.corpus import build_training_corpus
from oracle_vectorsearch_example_spark.plans.pipeline import (
    build_chunk_index,
    ingest_binary_documents,
    ingest_documents,
    search_text,
    search_text_ivf,
    write_doc_chunks,
)
from oracle_vectorsearch_example_spark.sources.corpus_fixture import doc_text

FORMATS = ("pdf", "docx", "html", "text")
FILES = 8  # parquet files per input table: the scan's task count
DIM = 64
WORDS = 400  # words per document on the vector paths
CORPUS_WORDS = 60  # words per document on the curation path (generate_corpus default)
K = 10
NPROBE = 4
HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "records", "fingerprints.json")


class CheckFailed(Exception):
    """An output of the program is wrong."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def write_docs(path: str, ids: range, seed: int, words: int, render: bool) -> None:
    """Write seeded documents to parquet (``FILES`` files): the
    ``generate_corpus`` text of each id (``doc_text``) and, with ``render``,
    its bytes from the ``render_document`` fixture writers in a
    pdf/docx/html/text rotation. Written driver-side with pyarrow, so the
    inputs cost no Spark job and come out the same at any core count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(FILES):
        part = ids[f::FILES]
        texts = [doc_text(i, words=words, seed=seed) for i in part]
        cols = {"doc_id": pa.array(list(part), pa.int64()), "text": pa.array(texts)}
        if render:
            cols["content"] = pa.array(
                [render_document(t, FORMATS[i % len(FORMATS)]) for i, t in zip(part, texts)],
                pa.binary(),
            )
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{f}.parquet"))


def _files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )


def _staged(tr, df: DataFrame) -> DataFrame:
    """In a traced run, materialise a layer's output at its boundary so the
    layer's jobs run inside its own span."""
    return df.localCheckpoint() if tr.enabled else df


def _ingest_traced(tr, docs: DataFrame, out_path: str | None) -> DataFrame:
    """EP1 split into its layers, each staged at its boundary: the public
    functions ``ingest_binary_documents`` (binary ``content``) and
    ``ingest_documents`` (plain ``text``) compose, with their defaults
    (100-word windows, 10-word overlap, 64-dim hashing embedding).
    Each layer span holds only the package call and the staging of its
    output; the counts are taken after the span closes."""
    binary = "content" in docs.columns
    with tr.span("sources") as s:
        docs = _staged(tr, docs.select("doc_id", "content" if binary else "text"))
    n = s["counts"]["docs"] = docs.count()
    txt = docs
    if binary:
        with tr.span("extract") as s:
            txt = _staged(tr, with_extracted_text(docs).drop("content"))
        s["counts"]["docs"] = n
        s["counts"]["null_frac"] = txt.filter(F.col("text").isNull()).count() / max(1, n)
        txt = txt.filter(F.col("text").isNotNull())
    with tr.span("chunker") as s:
        chunks = _staged(tr, chunk_by_words(txt, "text", ["doc_id"], 100, 10))
    s["counts"]["chunks_per_doc"] = chunks.count() / max(1, n)
    with tr.span("embedding"):
        emb = _staged(tr, HashingEmbedder(DIM).embed_df(chunks, "chunk_text", "embedding"))
    if out_path is not None:
        with tr.span("pipeline") as s:
            write_doc_chunks(emb, out_path, dim=DIM)
        s["counts"]["files_written"] = _files(out_path)
    return emb


def _chunk_keys(df: DataFrame) -> DataFrame:
    """(chunk_key, embedding) with the packed key ``build_chunk_index``
    uses, so added rows share the index's id space."""
    return df.select(
        (F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_id")).cast("long").alias("__chunk_key"),
        "embedding",
    )


def _query_strings(seed: int, n: int, n_docs: int) -> list[str]:
    """Seeded 8-word windows of corpus documents, so queries share the
    corpus vocabulary."""
    rnd = random.Random(seed)
    out = []
    for _ in range(n):
        words = doc_text(rnd.randrange(n_docs), words=WORDS, seed=seed).split()
        at = rnd.randrange(len(words) - 8)
        out.append(" ".join(words[at : at + 8]))
    return out


def _same_hits(a: list, b: list) -> bool:
    """Top-k rows equal, allowing only the order of exact distance ties."""
    if [(r.qid, r.rank, r.doc_id, r.chunk_id) for r in a] == [
        (r.qid, r.rank, r.doc_id, r.chunk_id) for r in b
    ]:
        return True
    key = lambda rows: sorted((r.qid, r.rank, round(r.distance, 9)) for r in rows)  # noqa: E731
    return key(a) == key(b)


class Workload:
    """One workload: ``setup`` (timed once per run, warm-up included: the
    ``setup_s`` figure), a request cycle, and output checks. ``primary`` and
    ``secondary`` name the request kinds behind the end-to-end metrics."""

    primary: str
    secondary: str
    ROUND: int  # requests in one full turn of the cycle

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.layer: dict[str, float] = {}  # workload-level per-layer figures

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, tag: str, warm_up: bool) -> None:
        """Write the seeded inputs under ``tag`` and prepare the program's
        state. With ``warm_up``, also issue one request of each kind, so
        first-call work (Python workers, codegen, JIT) lands in set-up and
        not in the window."""
        raise NotImplementedError

    def cycle(self):
        """Yield (kind, fn) forever; ``fn()`` runs one request and returns
        the number of items (documents, queries, chunks, signatures) it
        processed."""
        raise NotImplementedError

    def checks(self) -> list:
        """(name, fn) output checks run after the window."""
        return []


class SearchRefresh(Workload):
    """Each round starts on the freshly built index and, ``REFRESHES``
    times, runs a refresh (a batch of new binary documents through EP1,
    then ``IvfIndex.add``) and small EP3 searches on the index as the add
    left it (each add is one more data dir, which slows them); then one
    ``compact`` and one bulk ``search_df``."""

    name = "search_refresh"
    primary = "search"
    secondary = "refresh"
    REFRESHES = 3  # per round
    SEARCHES = 2  # after each refresh
    ROUND = REFRESHES * (SEARCHES + 1) + 2
    BASE_DOCS = 120
    BATCH_DOCS = 20
    N_QUERIES = 16
    BULK_QUERIES = 500  # of the base index's 600 chunk vectors

    def __init__(self, *args):
        super().__init__(*args)
        self.build_s: list[float] = []  # index build time of each set-up

    def setup(self, tag, warm_up):
        """Index the base corpus (EP1 text path, ``write_doc_chunks``,
        ``build_chunk_index``) and render the refresh batches."""
        spark, tr = self.spark, self.tr
        d = self.path(tag)
        write_docs(f"{d}/docs", range(self.BASE_DOCS), self.seed, WORDS, render=False)
        docs = spark.read.parquet(f"{d}/docs")
        if tr.enabled:
            _ingest_traced(tr, docs, f"{d}/chunks")
        else:
            write_doc_chunks(ingest_documents(docs), f"{d}/chunks", dim=DIM)
        self.chunks = spark.read.parquet(f"{d}/chunks")
        with tr.span("ivf.build") as s:
            t0 = time.perf_counter()
            self.index0 = build_chunk_index(self.chunks, path=f"{d}/index")
            self.build_s.append(time.perf_counter() - t0)
        s["counts"]["clusters"] = len(self.index0.centroids)
        if tr.enabled:
            s["counts"]["files_written"] = _files(f"{d}/index")
        self.refresh_raw = f"{d}/refresh_raw"
        lo = self.BASE_DOCS
        write_docs(
            self.refresh_raw, range(lo, lo + self.BATCH_DOCS * self.REFRESHES), self.seed, WORDS,
            render=True,
        )
        self.queries = _query_strings(self.seed, self.N_QUERIES, self.BASE_DOCS)
        self.bulk = (
            _chunk_keys(self.chunks)
            .select(F.col("__chunk_key").alias("qid"), F.col("embedding").alias("qvec"))
            .orderBy(F.xxhash64("qid", F.lit(self.seed)))
            .limit(self.BULK_QUERIES)
            .localCheckpoint()
        )
        self._reset()
        if warm_up:
            self._search()
            self.recall_rows = self.last_rows  # nprobe=4 on the index as built
            self._refresh()
            self._reset()

    def _reset(self):
        """Back to the index as built. A handle reads only the data dirs it
        was created with, so the built one never sees later adds: a fresh
        copy of the index without copying."""
        self.index, self.added_chunks, self.batches = self.index0, 0, 0

    def _search(self):
        tr = self.tr
        if not tr.enabled:
            rows = search_text_ivf(self.index, self.queries, k=K, nprobe=NPROBE).collect()
        else:
            emb = HashingEmbedder(DIM)
            with tr.span("embedding.query"):
                qv = emb.embed_texts(self.queries)
            q = self.spark.createDataFrame(list(enumerate(qv)), "qid long, qvec array<double>")
            with tr.span("ivf.search") as s:
                rows = self.index.search(q, k=K, nprobe=NPROBE).collect()
            probed = {c for cs in self.index._nearest_clusters_many(qv, NPROBE) for c in cs}
            s["counts"]["results"] = len(rows)
            s["counts"]["files_read"] = sum(
                _files(os.path.join(self.index.path, dd, f"cluster_id={c}"))
                for dd in self.index.data_dirs
                for c in probed
            )
        require(len(rows) == K * self.N_QUERIES, f"search returned {len(rows)} rows")
        self.last_rows = rows
        return self.N_QUERIES

    def _bulk(self):
        with self.tr.span("ivf.search_df") as s:
            n = self.index.search_df(self.bulk, k=K, nprobe=NPROBE).count()
        s["counts"]["queries"] = self.BULK_QUERIES
        require(n == K * self.BULK_QUERIES, f"search_df returned {n} rows")
        return self.BULK_QUERIES

    def _refresh(self):
        """From handing in a batch until its chunks are searchable: EP1,
        ``add``, then each added chunk's own vector probed back at rank 1."""
        b = self.batches
        self.batches += 1
        lo = self.BASE_DOCS + b * self.BATCH_DOCS
        raw = self.spark.read.parquet(self.refresh_raw).filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + self.BATCH_DOCS)
        )
        with self.tr.span("refresh"):
            if self.tr.enabled:
                emb = _ingest_traced(self.tr, raw, None)
            else:
                emb = ingest_binary_documents(raw.select("doc_id", "content"))
            new = _chunk_keys(emb).localCheckpoint()
            with self.tr.span("ivf.add") as s:
                self.index = self.index.add(new)
            if self.tr.enabled:
                s["counts"]["data_dirs"] = len(self.index.data_dirs)
                s["counts"]["files_written"] = _files(
                    os.path.join(self.index.path, self.index.data_dirs[-1])
                )
            with self.tr.span("ivf.search_added"):
                hits = self.index.search(
                    new.select(F.col("__chunk_key").alias("qid"), F.col("embedding").alias("qvec")),
                    k=K,
                    nprobe=1,
                ).collect()
        n_new = new.count()
        self.added_chunks += n_new
        top = {}
        for r in hits:
            top.setdefault(r.qid, []).append(r)
        for qid, rs in top.items():
            best = min(r.distance for r in rs)
            own = [r for r in rs if r[self.index.id_col] == qid]
            require(
                best < 1e-9 and own and own[0].distance <= best + 1e-12,
                f"added chunk {qid} not at rank 1 after refresh",
            )
        require(len(top) == n_new, f"{n_new - len(top)} added chunks not searchable")
        return self.BATCH_DOCS

    def _compact(self):
        with self.tr.span("ivf.compact"):
            self.index = self.index.compact()
        return len(self.index.data_dirs)

    def cycle(self):
        while True:
            self._reset()
            for _ in range(self.REFRESHES):
                yield "refresh", self._refresh
                for _ in range(self.SEARCHES):
                    yield "search", self._search
            yield "compact", self._compact
            yield "bulk", self._bulk

    def checks(self):
        def exact_at_full_probe():
            with self.tr.span("search"):  # the exact top-k recall is measured against
                exact = search_text(self.chunks, self.queries, k=K).orderBy("qid", "rank").collect()
            n = len(self.index0.centroids)
            ivf = search_text_ivf(self.index0, self.queries, k=K, nprobe=n)
            require(
                _same_hits(ivf.orderBy("qid", "rank").collect(), exact),
                "IVF at nprobe = n_clusters differs from exact search",
            )
            want = {(r.qid, r.doc_id, r.chunk_id) for r in exact}
            got = {(r.qid, r.doc_id, r.chunk_id) for r in self.recall_rows}
            self.layer["recall_at_10"] = len(want & got) / len(want)

        def keys_once():
            key = self.index.id_col
            n, distinct = self.index.assignments.agg(F.count(key), F.count_distinct(key)).first()
            want = self.chunks.count() + self.added_chunks
            require(n == distinct == want, "index chunk keys not exactly once")

        def roundtrip():
            raw = self.spark.read.parquet(self.refresh_raw)
            want = F.trim(F.regexp_replace("text", r"\s+", " "))
            got = with_extracted_text(raw, out_col="got")
            bad = got.filter(F.col("got").isNull() | (F.col("got") != want)).count()
            require(bad == 0, f"{bad} rendered docs did not round-trip through extraction")

        return [
            ("roundtrip", roundtrip),
            ("exact_at_full_probe", exact_at_full_probe),
            ("keys_once", keys_once),
        ]


def near_copy_pairs(seed: int, n_docs: int) -> set[tuple[int, int]]:
    """Pairs of corpus documents whose texts differ in at most one word:
    the planted near-copies (``generate_corpus`` copies an earlier document
    with one word substituted), found from the texts alone."""
    by_key: dict[tuple, list[int]] = {}
    pairs = set()
    for i in range(n_docs):
        w = doc_text(i, words=CORPUS_WORDS, seed=seed).split()
        for j in range(len(w)):
            others = by_key.setdefault((j, " ".join(w[:j] + w[j + 1 :])), [])
            pairs.update((o, i) for o in others)
            others.append(i)
    return pairs


class CorpusDedup(Workload):
    """``build_training_corpus`` with its three outputs written, and
    ``phash_neardup_pairs`` over 62-bit signatures with planted neighbours."""

    name = "corpus_dedup"
    primary = "curate"
    secondary = "neardup"
    NEARDUPS = 4  # per round
    CURATES = 3
    ROUND = NEARDUPS + CURATES
    N_DOCS = 1000
    N_SIGS = 5000
    PLANT_EVERY = 100  # one planted ≤3-bit neighbour per 100 signatures
    MAX_HAMMING = 8
    N_BLOCKS = 10
    # MinHash LSH finds a near-copy pair with high probability, not always:
    # the share of near-copy pairs that may keep both documents (at most
    # 0.088 over seeds 0-199, records/fingerprints.json)
    MAX_COPIES_KEPT = 0.15

    def __init__(self, *args):
        super().__init__(*args)
        self.fingerprints: set = set()  # (count, xor of id hashes) per curate

    def setup(self, tag, warm_up):
        self.write_inputs(tag)
        if warm_up:
            self._curate()
            self._neardup()

    def write_inputs(self, tag: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        spark = self.spark
        d = self.path(tag)
        write_docs(f"{d}/docs", range(self.N_DOCS), self.seed, CORPUS_WORDS, render=False)
        rng = np.random.default_rng(self.seed)
        n = self.N_SIGS
        sig = rng.integers(0, 1 << 62, size=n, dtype=np.int64)
        src = np.arange(0, n, self.PLANT_EVERY)
        flips = np.zeros(len(src), dtype=np.int64)
        for row in range(len(src)):  # three distinct bits per planted neighbour
            for bit in rng.choice(62, size=3, replace=False):
                flips[row] |= np.int64(1) << np.int64(bit)
        ids = np.concatenate([np.arange(n), src + n])
        sigs = np.concatenate([sig, sig[src] ^ flips])
        os.makedirs(f"{d}/sigs", exist_ok=True)
        for f in range(FILES):
            pq.write_table(
                pa.table({"doc_id": ids[f::FILES], "phash": sigs[f::FILES]}),
                f"{d}/sigs/part-{f}.parquet",
            )
        self.docs = spark.read.parquet(f"{d}/docs")
        self.sigs = spark.read.parquet(f"{d}/sigs")
        self.n_sigs = len(ids)

    def fingerprint(self) -> tuple[int, int]:
        """(count, XOR of ``xxhash64``) of the doc ids the last curate wrote."""
        kept = self.spark.read.parquet(self.path("curated", "documents"))
        fp = kept.agg(F.count("*"), F.expr("bit_xor(xxhash64(doc_id))")).first()
        return fp[0], fp[1]

    def near_copies_kept(self) -> tuple[int, int]:
        """(near-copy pairs of which the last curate kept both documents,
        near-copy pairs in the corpus)."""
        kept = {
            r.doc_id
            for r in self.spark.read.parquet(self.path("curated", "documents"))
            .select("doc_id")
            .collect()
        }
        pairs = near_copy_pairs(self.seed, self.N_DOCS)
        return sum(1 for a, b in pairs if a in kept and b in kept), len(pairs)

    def _curate(self):
        tr = self.tr
        if tr.enabled:
            self._curate_staged()
        with tr.span("corpus") as s:
            t0 = time.perf_counter()
            out = build_training_corpus(self.docs, quality_min=0.2)
            s["counts"]["call_s"] = time.perf_counter() - t0
            for name, df in out.items():
                df.write.mode("overwrite").parquet(self.path("curated", name))
            s["counts"]["write_s"] = time.perf_counter() - t0 - s["counts"]["call_s"]
            out["documents"].unpersist()
        self.fingerprints.add(self.fingerprint())
        require(len(self.fingerprints) == 1, "surviving doc ids differ between curate runs")
        return self.N_DOCS

    def _curate_staged(self):
        """The corpus build's layers staged one by one, like the call's own
        order: MinHash dedup, quality gate, split, packing. The counts are
        taken after each layer's span closes."""
        tr, docs = self.tr, self.docs
        with tr.span("dedup") as s:
            pairs = _staged(tr, minhash_lsh_pairs(docs))
            deduped = _staged(tr, dedup_by_components(docs, pairs))
        buckets = minhash_band_table(docs, "text", "doc_id", 16, 4, 3).groupBy(
            "band", "band_hash"
        ).count()
        cand = buckets.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
        n_pairs = pairs.count()
        s["counts"].update(
            candidates=cand,
            pairs=n_pairs,
            verify_ratio=n_pairs / cand if cand else 1.0,
            components=neardup_components(pairs).select("component_id").distinct().count(),
        )
        with tr.span("textstats") as s:
            kept = _staged(
                tr, text_metrics_df(deduped, "text").filter(F.col("quality") >= 0.2).select("doc_id")
            )
        s["counts"]["kept_frac"] = kept.count() / max(1, deduped.count())
        with tr.span("packing"):
            train = hash_split(docs.join(kept, "doc_id", "left_semi")).filter(
                F.col("split") == "train"
            )
            pack_sequences(train).count()

    def _neardup(self):
        tr = self.tr
        with tr.span("phash") as s:
            pairs = phash_neardup_pairs(
                self.sigs, id_col="doc_id", max_hamming=self.MAX_HAMMING, n_blocks=self.N_BLOCKS
            ).collect()
        if tr.enabled:
            bt = phash_band_table(
                self.sigs, id_col="doc_id", max_hamming=self.MAX_HAMMING, n_blocks=self.N_BLOCKS
            )
            s["counts"]["candidates"] = bt.groupBy("band", "bval").count().agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).first()[0] or 0
            s["counts"]["pairs"] = len(pairs)
        found = {(r.id_a, r.id_b) for r in pairs}
        missing = [
            i for i in range(0, self.N_SIGS, self.PLANT_EVERY) if (i, i + self.N_SIGS) not in found
        ]
        require(not missing, f"{len(missing)} planted signature pairs not found")
        require(all(r.hamming <= self.MAX_HAMMING for r in pairs), "pair beyond max_hamming")
        return self.n_sigs

    def cycle(self):
        while True:
            for _ in range(self.NEARDUPS):
                yield "neardup", self._neardup
            for _ in range(self.CURATES):
                yield "curate", self._curate

    def checks(self):
        def fingerprint_recorded():
            with open(FINGERPRINTS) as f:
                want = json.load(f)["fingerprints"].get(str(self.seed))
            (got,) = self.fingerprints
            if want is None:
                print(f"perfbench: no fingerprint recorded for seed {self.seed}", file=sys.stderr)
                return
            require(list(got) == want, f"surviving doc ids {got} differ from the recorded {want}")

        def near_copies_removed():
            both, n = self.near_copies_kept()
            require(n, "the corpus has no near-copy pairs")
            require(
                both <= self.MAX_COPIES_KEPT * n, f"{both} of {n} near-copy pairs kept both documents"
            )

        return [
            ("fingerprint_recorded", fingerprint_recorded),
            ("near_copies_removed", near_copies_removed),
        ]


WORKLOADS = {w.name: w for w in (SearchRefresh, CorpusDedup)}
