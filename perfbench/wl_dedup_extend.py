"""dedup_extend: the training-data operators layer.

A seeded synthetic corpus (lognormal word counts of about 10-400 words over
a 5k-word Zipf vocabulary, 5% planted near-duplicates) is indexed at set-up
with ``build_dedup_index``.  The loop extends the index with 32-doc batches
(60% new docs, 25% near-duplicates of corpus docs, 15% re-submitted ids for
upsert); after every 4th extend one full ``minhash_dedup`` reruns over the
current corpus.  Every extend pair is checked against an exact Jaccard
computed here; every full rerun, which runs right after an extend, must
contain exactly that extend's pairs among those with an endpoint in its
batch — the equivalence ``extend_dedup_index`` promises.
"""

from __future__ import annotations

import os
import random
import re
import time

import numpy as np

from chronicles_spark.core.model import PartitionSchema, TableDefinition, TableName

from harness import Op, Workload, latency_details

N_DOCS = 1_000
VOCAB = 5_000
BATCH = 32
EXTENDS_PER_FULL = 4
WARMUP_EXTENDS = 1
SHARDS = 16
THRESHOLD = 0.5
NEAR_DUP_SHARE = 0.05
# per 32-doc batch: new docs, near-duplicates of corpus docs, re-submitted ids
BATCH_MIX = (19, 8, 5)
TABLE = TableName("bench", "dedup")
_TOKEN = re.compile("[a-z0-9]+")


def shingles(text: str, width: int = 3) -> frozenset:
    """Word-3-gram set, the definition ``operators.dedup.shingles_of`` uses."""
    toks = _TOKEN.findall(text.lower())
    return frozenset(" ".join(toks[i:i + width]) for i in range(len(toks) - width + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class _TextGen:
    """Seeded documents: lognormal lengths, Zipf-weighted words."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        w = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** 1.05)
        self.cdf = w / w[-1]
        self.words = np.array([f"w{i}" for i in range(VOCAB)])

    def doc(self) -> str:
        n = int(np.clip(self.rng.lognormal(np.log(50), 0.8), 10, 400))
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return " ".join(self.words[np.minimum(idx, VOCAB - 1)])

    def near_dup(self, text: str) -> str:
        """Replace about 5% of the words: Jaccard stays well above 0.5."""
        toks = text.split()
        for j in self.rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = self.words[self.rng.integers(VOCAB)]
        return " ".join(toks)


def make_corpus(seed: int) -> dict:
    gen = _TextGen(np.random.default_rng([seed, 2]))
    corpus = {}
    for i in range(N_DOCS):
        if i and gen.rng.random() < NEAR_DUP_SHARE:
            corpus[i] = gen.near_dup(corpus[int(gen.rng.integers(i))])
        else:
            corpus[i] = gen.doc()
    return corpus


def _write_docs(path: str, docs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


class DedupExtend(Workload):
    name = "dedup_extend"
    why = ("incremental MinHash dedup: py4j plan construction, many small"
           " Spark jobs and the index commit per extend, plus a full rerun")
    key_op = "extend"
    trace_ops = EXTENDS_PER_FULL + 1  # one cycle

    def __init__(self, ctx):
        super().__init__(ctx)
        self.files = 0

    def _stage(self, docs) -> str:
        self.files += 1
        path = f"{self.ctx.work}/input/{self.files:05d}.parquet"
        _write_docs(path, docs)
        return path

    def setup(self) -> dict:
        from chronicles_spark.operators import dedup_index as DX

        t0 = time.perf_counter()
        os.makedirs(f"{self.ctx.work}/input")
        self.corpus = make_corpus(self.ctx.seed)
        lens = sorted(len(t.split()) for t in self.corpus.values())
        self.lens = [lens[0], lens[len(lens) // 2], lens[-1]]
        self.sh = {i: shingles(t) for i, t in self.corpus.items()}
        corpus_df = self.ctx.spark.read.parquet(self._stage(sorted(self.corpus.items())))
        prep_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.table = TableDefinition(TABLE, f"{self.ctx.work}/bands",
                                     PartitionSchema(("band_shard",)))
        self.tracker = self.ctx.tracker(f"{self.ctx.work}/log")
        self.tracker.init_table(TABLE, is_snapshot=False, user_id="bench")
        DX.build_dedup_index(corpus_df, self.table, self.tracker,
                             band_shards=SHARDS, doc_shards=SHARDS)
        build_s = time.perf_counter() - t0

        # a warm-up extend keeps the first extend of a fresh JVM, the slowest,
        # out of the loop
        t0 = time.perf_counter()
        warm = self._ops(f"{self.ctx.seed}/dedup_extend/warm", 10_000_000)
        for _ in range(WARMUP_EXTENDS):
            op = next(warm)
            self.prepare(op)
            if not self.check(op, self.execute(op)):
                raise RuntimeError("warm-up extend failed its check")
        return {"prep_s": prep_s, "build_s": build_s,
                "warmup_s": time.perf_counter() - t0}

    # -- schedule -------------------------------------------------------------------

    def _ops(self, stream: str, first_new_id: int):
        """Extend batches and full reruns, starting from the corpus as it
        stands now.  The generator keeps its own copy of the corpus so
        near-duplicates and re-submissions are drawn from what the corpus
        holds at that point: a pure function of the seed."""
        rng = random.Random(stream)
        gen = _TextGen(np.random.default_rng(rng.getrandbits(64)))
        corpus = dict(self.corpus)
        next_id = first_new_id
        n_new, n_dup, n_re = BATCH_MIX
        while True:
            for j in range(EXTENDS_PER_FULL):
                ids = sorted(corpus)
                batch = []
                for _ in range(n_new):
                    batch.append((next_id, gen.doc()))
                    next_id += 1
                for _ in range(n_dup):
                    batch.append((next_id, gen.near_dup(corpus[rng.choice(ids)])))
                    next_id += 1
                for i in rng.sample(ids, n_re):
                    batch.append((i, gen.near_dup(corpus[i])))
                corpus.update(batch)
                yield Op("extend", tuple(batch), False)
            yield Op("full", (), True)

    def schedule(self):
        return self._ops(f"{self.ctx.seed}/dedup_extend/ops", 20_000_000)

    # -- ops --------------------------------------------------------------------------

    def prepare(self, op: Op) -> None:
        docs = op.args if op.kind == "extend" else sorted(self.corpus.items())
        self.input = self.ctx.spark.read.parquet(self._stage(docs))

    def execute(self, op: Op):
        from chronicles_spark.operators import dedup as DD, dedup_index as DX

        ctx = self.ctx
        if op.kind == "extend":
            with ctx.span("operators.dedup_index.extend"):
                pairs, _, _ = DX.extend_dedup_index(
                    self.input, self.table, self.tracker, threshold=THRESHOLD)
                return pairs.collect()
        if op.kind == "full":
            with ctx.span("operators.dedup.plan"):
                pairs = DD.minhash_dedup(self.input, threshold=THRESHOLD)
            with ctx.span("operators.dedup.verify"):
                return pairs.collect()
        raise ValueError(op.kind)

    def _pairs_ok(self, rows, must_touch) -> bool:
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            if not (a < b and (a in must_touch or b in must_touch)
                    and r["jaccard"] >= THRESHOLD
                    and abs(r["jaccard"] - jaccard(self.sh[a], self.sh[b])) <= 1e-12):
                return False
        return True

    def check(self, op: Op, result) -> bool:
        if op.kind == "extend":
            for i, text in op.args:
                self.corpus[i] = text
                self.sh[i] = shingles(text)
            self.last_batch = {i for i, _ in op.args}
            self.last_pairs = {(r["id_a"], r["id_b"]) for r in result}
            return self._pairs_ok(result, self.last_batch)
        if op.kind == "full":
            touching = [r for r in result
                        if r["id_a"] in self.last_batch or r["id_b"] in self.last_batch]
            return (self._pairs_ok(result, self.corpus)
                    and {(r["id_a"], r["id_b"]) for r in touching} == self.last_pairs)
        return False

    def after_traced_op(self, op: Op, result) -> None:
        if op.kind != "full" or result is None:
            return
        from chronicles_spark.operators import dedup as DD

        base = DD.shingle_base(self.input, "doc_id", "text")
        self.ctx.count("operators.dedup.candidate_pairs",
                       DD.minhash_lsh_candidates(base).count())
        self.ctx.count("operators.dedup.verified_pairs", len(result))

    def untrace(self) -> None:
        from tracing import plain

        plain(self.tracker)

    def sizes(self) -> dict:
        return {"corpus_docs": N_DOCS, "vocab": VOCAB,
                "words_per_doc_min_median_max": self.lens,
                "near_dup_share": NEAR_DUP_SHARE, "batch": BATCH,
                "batch_new_dup_resubmit": list(BATCH_MIX),
                "extends_per_full": EXTENDS_PER_FULL,
                "band_shards": SHARDS, "doc_shards": SHARDS, "threshold": THRESHOLD}

    def details(self, records) -> tuple[dict, dict]:
        return latency_details(records, (
            ("extend_p50_s", "extend", 50, "s"),
            ("dedup_full_s", "full", 50, "s"),
        ))
