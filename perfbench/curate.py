"""``curate_stream``: streaming near-dup curation of a seeded backlog.

Set-up writes the backlog: one parquet file of ``FILE_DOCS`` documents
per round, in three synthetic languages, with ascending ids. A fixed
share of each file repeats an earlier original exactly, and another share
repeats one with a tenth of its words replaced. ``StreamingNearDupIndex``
over a persisted ``SignatureStore`` drains one round per step, vacuuming
the store every ``VACUUM_EVERY`` batches; the store and the accumulated
verdicts grow across the whole run. After each drain the round's keepers
are scored by a ``LogRegModel`` trained in set-up and selected under a
token budget per language.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datagrowth_spark.operators import selection
from datagrowth_spark.operators.classifier import logreg_train
from datagrowth_spark.operators.sigstore import SignatureStore
from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

LANGS = ("en", "de", "nl")
VOCAB = 3000
FILE_DOCS = 5_000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
VACUUM_EVERY = 2
TOKEN_BUDGET = 200_000
#: Every TRAIN_EVERY-th document of the first file trains the classifier.
TRAIN_EVERY = 5
WARMUP_STEPS = 1
TIMED_STEPS = 2
ROUNDS = WARMUP_STEPS + TIMED_STEPS
SCHEMA = "doc_id long, text string, lang string, n_tokens int"


def vocabulary(rng: np.random.RandomState, lang: str) -> list[str]:
    letters = {"en": "etaoinshrdlu", "de": "enisratdhulg", "nl": "enatirodslgv"}[lang]
    lengths = rng.randint(3, 9, size=VOCAB)
    picks = rng.randint(0, len(letters), size=(VOCAB, 8))
    return [lang[0] + "".join(letters[k] for k in row[:n]) for row, n in zip(picks, lengths)]


class Backlog:
    """The seeded document backlog and the copy relation the checks use."""

    def __init__(self, seed: int, root: str) -> None:
        self.rng = np.random.RandomState(seed)
        self.root = root
        self.vocab = {lang: vocabulary(self.rng, lang) for lang in LANGS}
        self.originals: list[tuple[int, str, str]] = []
        self.exact: dict[int, int] = {}
        self.next_id = 1

    def _file(self) -> pa.Table:
        rng = self.rng
        ids, texts, langs = [], [], []
        kinds = rng.random_sample(FILE_DOCS)
        for kind in kinds:
            doc_id = self.next_id
            self.next_id += 1
            if kind < EXACT_SHARE + NEAR_SHARE and self.originals:
                src_id, src_text, lang = self.originals[rng.randint(len(self.originals))]
                if kind < EXACT_SHARE:
                    text = src_text
                    self.exact[doc_id] = src_id
                else:
                    words = src_text.split()
                    vocab = self.vocab[lang]
                    for k in rng.choice(len(words), size=max(1, len(words) // 10), replace=False):
                        words[k] = vocab[rng.randint(VOCAB)]
                    text = " ".join(words)
            else:
                lang = LANGS[rng.randint(len(LANGS))]
                vocab = self.vocab[lang]
                text = " ".join(vocab[k] for k in rng.randint(VOCAB, size=rng.randint(30, 90)))
                self.originals.append((doc_id, text, lang))
            ids.append(doc_id)
            texts.append(text)
            langs.append(lang)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs,
            "n_tokens": pa.array([len(t.split()) for t in texts], pa.int32()),
        })

    def write_round(self, index: int) -> tuple[str, range]:
        path = os.path.join(self.root, f"round-{index:03d}")
        os.makedirs(path)
        first = self.next_id
        pq.write_table(self._file(), os.path.join(path, "part-000.parquet"))
        return path, range(first, self.next_id)


class CurateStream:
    timed_steps = TIMED_STEPS
    #: The first timed step; set-up runs the ones before it.
    timed_from = WARMUP_STEPS + 1

    def __init__(self, spark, run_dir: str, seed: int, recorder=None) -> None:
        self.spark = spark
        self.recorder = recorder
        self.backlog = Backlog(seed, os.path.join(run_dir, "backlog"))
        self.store_dir = os.path.join(run_dir, "sigstore")
        self.selection_dir = os.path.join(run_dir, "selection")
        self.index = StreamingNearDupIndex(
            sig_store=SignatureStore(spark, self.store_dir), vacuum_every=VACUUM_EVERY)
        self.batch_times: list[float] = []
        self.index.process_batch = self._timed(self.index.process_batch)
        self.rounds: list[tuple[str, range]] = []
        self.model = None
        self.steps = 0

    def _timed(self, process_batch):
        def run(batch_df, batch_id):
            t0 = time.perf_counter()
            process_batch(batch_df, batch_id)
            self.batch_times.append(time.perf_counter() - t0)
        return run

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.rounds = [self.backlog.write_round(r) for r in range(ROUNDS)]
        t1 = time.perf_counter()
        train = self.spark.read.parquet(self.rounds[0][0]).where(F.col("doc_id") % TRAIN_EVERY == 0)
        self.model = logreg_train(train, F.col("lang") == "en", k=1).model
        t2 = time.perf_counter()
        for _ in range(WARMUP_STEPS):
            self.step()
        return {"inputs_s": t1 - t0, "train_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def requests_sent(self, step: int) -> int:
        return 0

    def transport_counts(self) -> tuple[int, int]:
        return 0, 0

    def step(self) -> tuple[list[float], int]:
        path, ids = self.rounds[self.steps]
        self.steps += 1
        done = len(self.batch_times)
        stream = (self.spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(path))
        self.index.start(stream).stop()
        keepers = (self.index.verdicts
                   .where(F.col("id").between(ids.start, ids.stop - 1) & ~F.col("is_dup"))
                   .select(F.col("id").alias("doc_id")))
        docs = self.spark.read.schema(SCHEMA).parquet(path).join(keepers, "doc_id")
        scored = self.model.score_docs(docs)
        chosen = selection.select_by_token_budget(
            scored, ["lang"], "score", "n_tokens", TOKEN_BUDGET, tiebreak_col="doc_id")
        out = os.path.join(self.selection_dir, f"round={self.steps}")
        scope = self.recorder.span("curate.pass") if self.recorder else contextlib.nullcontext()
        with scope:
            chosen.select("doc_id", "lang", "n_tokens", "kept").write.parquet(out)
        return self.batch_times[done:], len(ids)

    # -- results ----------------------------------------------------------
    def stored(self) -> tuple[int, int]:
        from perfbench.common import dir_bytes

        drained = sum(len(ids) for _path, ids in self.rounds[:self.steps])
        return dir_bytes(self.store_dir), drained

    def check(self) -> dict:
        problems: list[str] = []
        drained = [i for _path, ids in self.rounds[:self.steps] for i in ids]
        verdicts = self.index.verdicts
        stats = verdicts.agg(F.count(F.lit(1)).alias("n"),
                             F.countDistinct("id").alias("ids"),
                             F.min("id").alias("lo"), F.max("id").alias("hi")).collect()[0]
        if (stats["n"], stats["ids"]) != (len(drained), len(drained)) \
                or (stats["lo"], stats["hi"]) != (drained[0], drained[-1]):
            problems.append(f"{stats['n']} verdicts for {stats['ids']} ids, "
                            f"expected one for each of {len(drained)} documents")
        last = drained[-1]
        copies = {c: o for c, o in self.backlog.exact.items() if c <= last}
        rows = (verdicts.where(F.col("id").isin(list(copies)))
                .select("id", "is_dup", "dup_of").collect())
        wrong = [r["id"] for r in rows if not r["is_dup"] or r["dup_of"] != copies[r["id"]]]
        if len(rows) != len(copies) or wrong:
            problems.append(f"{len(wrong)} of {len(copies)} exact copies not marked as "
                            f"duplicates of their original ({len(rows)} verdicts found)")
        kept = (self.spark.read.parquet(self.selection_dir).where("kept")
                .groupBy("round", "lang").agg(F.sum("n_tokens").alias("tokens")).collect())
        over = [(r["round"], r["lang"]) for r in kept if r["tokens"] > TOKEN_BUDGET]
        if over or len(kept) != self.steps * len(LANGS):
            problems.append(f"selections: {len(kept)} non-empty (round, language) strata of "
                            f"{self.steps * len(LANGS)}, {len(over)} over the token budget")
        timed = range(self.rounds[self.timed_from - 1][1].start, last + 1)
        per_id = (verdicts.where(F.col("id").between(timed.start, timed.stop - 1))
                  .groupBy("id").count().where("count = 1").count())
        failed = len(timed) - per_id + sum(1 for i in wrong if i in timed)
        return {"problems": problems, "attempted": len(timed), "failed": failed,
                "failed_docs": len(timed) - per_id}
