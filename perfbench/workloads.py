"""The benchmark's workloads: seeded inputs, one timed iteration each, and
the checks on what the iteration produced.

Each workload drives the package's public API only. ``generate`` writes
the inputs from the seed; ``open`` reads them into the current session;
``iterate`` runs one timed iteration inside an ``iteration`` span whose
child spans name the layer each public call exercises, then checks the
output outside the timed span and returns an :class:`Outcome`.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Dict, List

MASK32 = 0xFFFFFFFF


@dataclass
class Outcome:
    """What one iteration produced: an order-independent checksum of its
    output (compared across iterations and runs) and every failed check."""
    checksum: str
    problems: List[str] = field(default_factory=list)


def _hash_aggs(F, cols, prefix=""):
    """Order-independent digest of a row set: bit_xor of a 64-bit row hash
    and the sum of its low 32 bits (a long sum of full hashes would
    overflow under ANSI mode)."""
    h = F.xxhash64(*cols)
    return [F.bit_xor(h).alias(prefix + "xor"),
            F.sum(h.bitwiseAND(F.lit(MASK32))).alias(prefix + "sum")]


class PitFeatures:
    """North-rule point-in-time feature pipeline over the skewed
    tokenized-sequence table, ending in a noop sink."""

    name = "pit_features"
    ROWS = 50_000
    QUOTES = 20_000

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.rows = self.input_rows = max(2_000, int(self.ROWS * scale))
        self.quotes = max(500, int(self.QUOTES * scale))
        self.paths: Dict[str, str] = {}
        self.expected: Dict[str, int] = {}

    def sizes(self) -> dict:
        return {"rows": self.rows, "quote_rows": self.quotes}

    def generate(self, spark, data_dir: str, parts: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nvtabular_spark.sources import tokenized_sequences

        self.paths = {"seqs": os.path.join(data_dir, "seqs"),
                      "quotes": os.path.join(data_dir, "quotes")}
        # the digest of the padded token slice every output row must
        # carry, observed while the input is written
        seqs = tokenized_sequences(spark, self.rows, seed=self.seed,
                                   partitions=parts)
        n = F.size("tokens")
        padded = F.concat(
            F.slice("tokens", 1, 64),
            F.array_repeat(F.lit(0), F.greatest(F.lit(0), 64 - n)))
        obs = Observation("pit_input")
        seqs.observe(obs, F.count(F.lit(1)).alias("rows"),
                     *_hash_aggs(F, ["doc_id", padded.cast("array<int>")],
                                 "tok_")) \
            .write.mode("overwrite").parquet(self.paths["seqs"])
        self.expected = obs.get
        # per-entity quotes over the same days as the sequence table:
        # the hot entities get their share of quotes too
        h = lambda salt: F.abs(F.xxhash64(  # noqa: E731
            F.col("id"), F.lit(self.seed), F.lit(salt)))
        ent = h("qent")
        quotes = spark.range(0, self.quotes, 1, parts).select(
            F.when(ent % 10 == 0, F.lit("e_hot_0"))
             .when(ent % 10 == 1, F.lit("e_hot_1"))
             .otherwise(F.concat(F.lit("e"), (ent % 1000).cast("string")))
             .alias("entity_id"),
            F.timestamp_seconds(F.lit(1577836800) + h("qts") % (86400 * 37))
             .alias("ts"),
            ((h("qv") % 1_000_000) / 100.0).alias("quote"))
        quotes.write.mode("overwrite").parquet(self.paths["quotes"])

    def open(self, spark) -> None:
        self.data = spark.read.parquet(self.paths["seqs"])
        self.quotes_df = spark.read.parquet(self.paths["quotes"])

    def pipeline(self):
        from nvtabular_spark import ops
        return (
            (["source", "entity_id"] >> ops.Categorify(freq_threshold=2,
                                                       num_buckets=16))
            + (["x", "y"] >> ops.FillMissing(0) >> ops.Normalize())
            + (["source"] >> ops.TargetEncoding(
                target="label", fold_col="doc_id", kfold=3, p_smooth=20)
               >> ops.Rename(postfix="_te"))
            + (["tokens"] >> ops.ListSlice(0, 64, pad=True, pad_value=0))
            + (["n_tok"] >> ops.Lag("entity_id", "ts", 1))
            + (["n_tok"] >> ops.RollingAgg("entity_id", "ts", window_rows=8,
                                           aggs=["mean"]))
            + (["ts"] >> ops.Sessionize("entity_id", gap=1800.0))
            + (["doc_id"] >> ops.AsOfJoin(self.quotes_df, on="entity_id",
                                          ts_col="ts", value_cols=["quote"],
                                          suffix="_asof"))["quote_asof"]
            + ["doc_id", "n_tok", "ts", "label"]
        )

    def iterate(self, spark, spans, it: int, out_dir: str) -> Outcome:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        import nvtabular_spark as nvt

        obs = Observation(f"pit_{it}")
        with spans.span("iteration", it):
            with spans.span("fit"):
                wf = nvt.Workflow(self.pipeline())
                wf.fit(self.data)
            with spans.span("transform"):
                out = wf.transform(self.data)
            with spans.span("sink"):
                cols = sorted(out.columns)
                tok = F.col("tokens").cast("array<int>")
                (out.observe(obs, F.count(F.lit(1)).alias("rows"),
                             *_hash_aggs(F, cols),
                             *_hash_aggs(F, ["doc_id", tok], "tok_"))
                 .write.format("noop").mode("overwrite").save())
        got = obs.get
        problems = []
        if got["rows"] != self.expected["rows"]:
            problems.append(f"output rows {got['rows']} != input rows "
                            f"{self.expected['rows']}")
        if (got["tok_xor"], got["tok_sum"]) != (self.expected["tok_xor"],
                                                self.expected["tok_sum"]):
            problems.append("padded tokens differ from the input's first 64")
        return Outcome(f"{got['rows']}:{got['xor']}:{got['sum']}", problems)


class CriteoEncodeWrite:
    """Criteo-shaped encode: Categorify over 26 power-law categoricals,
    FillMissing -> Clip -> LogOp over 13 continuous, shuffled parquet
    write. The only workload that writes next to reading."""

    name = "criteo_encode_write"
    ROWS = 200_000
    CATS, CONTS, CARDINALITY = 26, 13, 50_000

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.rows = self.input_rows = max(2_000, int(self.ROWS * scale))
        self.paths: Dict[str, str] = {}

    def sizes(self) -> dict:
        return {"rows": self.rows, "cat_columns": self.CATS,
                "cont_columns": self.CONTS,
                "cat_cardinality": self.CARDINALITY}

    def generate(self, spark, data_dir: str, parts: int) -> None:
        from nvtabular_spark.sources import synthetic_tabular

        self.paths = {"input": os.path.join(data_dir, "criteo")}
        synthetic_tabular(spark, self.rows, seed=self.seed,
                          n_cats=self.CATS, n_conts=self.CONTS,
                          cat_cardinality=self.CARDINALITY,
                          partitions=parts) \
            .write.mode("overwrite").parquet(self.paths["input"])

    def open(self, spark) -> None:
        self.data = spark.read.parquet(self.paths["input"])

    def pipeline(self):
        from nvtabular_spark import ops
        cats = [f"cat_{i}" for i in range(self.CATS)]
        conts = [f"cont_{i}" for i in range(self.CONTS)]
        return ((cats >> ops.Categorify(freq_threshold=15, num_buckets=16))
                + (conts >> ops.FillMissing(0) >> ops.Clip(min_value=0)
                   >> ops.LogOp())
                + ["label"])

    def iterate(self, spark, spans, it: int, out_dir: str) -> Outcome:
        from pyspark.sql import functions as F

        import nvtabular_spark as nvt
        from nvtabular_spark.sources import write_shuffled

        path = os.path.join(out_dir, f"criteo_{it}")
        with spans.span("iteration", it):
            with spans.span("fit"):
                wf = nvt.Workflow(self.pipeline())
                wf.fit(self.data)
            with spans.span("transform"):
                out = wf.transform(self.data)
            with spans.span("sink") as sink:
                write_shuffled(out, path, shuffle="per_partition",
                               seed=self.seed)
                sink.counts["files_written"] = len(
                    glob.glob(os.path.join(path, "part-*")))
        cats = [f"cat_{i}" for i in range(self.CATS)]
        back = spark.read.parquet(path)
        row = back.agg(F.count(F.lit(1)).alias("rows"),
                       *_hash_aggs(F, sorted(back.columns)),
                       *[F.min(c).alias(f"min_{c}") for c in cats],
                       *[F.max(c).alias(f"max_{c}") for c in cats]
                       ).collect()[0]
        shutil.rmtree(path, ignore_errors=True)
        problems = []
        if row["rows"] != self.rows:
            problems.append(f"read back {row['rows']} rows, wrote "
                            f"{self.rows}")
        for c in cats:
            top = wf.output_schema[c].properties["domain"]["max"]
            if not 0 <= row[f"min_{c}"] <= row[f"max_{c}"] <= top:
                problems.append(f"{c} codes [{row[f'min_{c}']}, "
                                f"{row[f'max_{c}']}] outside [0, {top}]")
        return Outcome(f"{row['rows']}:{row['xor']}:{row['sum']}", problems)


def _shingles(words: List[str], n: int = 3) -> set:
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Word n-gram Jaccard of two whitespace-tokenized texts, in Python:
    the reference the returned pairs are checked against."""
    sa, sb = _shingles(a.split(" "), n), _shingles(b.split(" "), n)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


class NearDedup:
    """n-gram Jaccard near-duplicate pairs, then connected components to
    keep one document per cluster, then a count."""

    name = "near_dedup"
    DOCS = 2_000
    VOCAB = 5_000
    THRESHOLD = 0.5
    SAMPLE = 200

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.docs = self.input_rows = max(200, int(self.DOCS * scale))
        self.paths: Dict[str, str] = {}
        self.texts: Dict[str, str] = {}
        self.planted: List[tuple] = []
        self.boilerplate = 0

    def sizes(self) -> dict:
        return {"docs": self.docs, "vocab": self.VOCAB,
                "planted_pairs": len(self.planted),
                "boilerplate_docs": self.boilerplate}

    def _corpus(self) -> None:
        """Seeded documents from token arrays: 10% are planted near
        duplicates of an earlier document without the boilerplate, 20%
        carry one shared 6-word boilerplate phrase, 1% have fewer than 3
        words (no shingles). The shares are exact, so seeds change the
        words but not the amount of work."""
        rng = random.Random(self.seed)
        word = lambda: f"w{rng.randrange(self.VOCAB)}"  # noqa: E731
        phrase = [word() for _ in range(6)]
        n = self.docs
        roles = ["dup"] * (n // 10) + ["short"] * (n // 100) \
            + ["boiler"] * (n // 5)
        roles += ["plain"] * (n - 1 - len(roles))
        rng.shuffle(roles)
        texts, planted, sources = {}, [], []
        for i, role in enumerate(["plain"] + roles):
            doc_id = f"d{i:07d}"
            if role == "dup":
                src = rng.choice(sources)
                words = texts[src].split(" ")
                for _ in range(len(words) // 25):
                    mutated = list(words)
                    mutated[rng.randrange(len(words))] = word()
                    if jaccard(" ".join(mutated), texts[src]) >= 0.6:
                        words = mutated
                planted.append((src, doc_id))
            elif role == "short":
                words = [word() for _ in range(rng.randint(1, 2))]
            else:
                words = [word() for _ in range(rng.randint(20, 60))]
                if role == "boiler":
                    at = rng.randrange(len(words) + 1)
                    words[at:at] = phrase
            if role != "boiler":
                sources.append(doc_id)
            texts[doc_id] = " ".join(words)
        self.texts, self.planted = texts, planted
        self.boilerplate = roles.count("boiler")

    def generate(self, spark, data_dir: str, parts: int) -> None:
        self._corpus()
        self.paths = {"docs": os.path.join(data_dir, "docs")}
        spark.createDataFrame(sorted(self.texts.items()),
                              "doc_id string, text string") \
            .repartition(parts) \
            .write.mode("overwrite").parquet(self.paths["docs"])
        self.expected_pairs = {
            tuple(sorted(p)) for p in self.planted
            if all(len(self.texts[d].split(" ")) >= 3 for d in p)}

    def open(self, spark) -> None:
        self.data = spark.read.parquet(self.paths["docs"])

    def iterate(self, spark, spans, it: int, out_dir: str) -> Outcome:
        from nvtabular_spark.functions.dedup import (drop_near_duplicates,
                                                     ngram_jaccard_pairs)

        with spans.span("iteration", it):
            with spans.span("pairs_build"):
                pairs = ngram_jaccard_pairs(
                    self.data, text_col="text", id_col="doc_id", n=3,
                    threshold=self.THRESHOLD, family="xxhash64")
            with spans.span("pairs_exec") as pairs_span:
                pairs = pairs.localCheckpoint(eager=True)
            with spans.span("cc"):
                kept_df = drop_near_duplicates(self.data, pairs)
            with spans.span("count") as count:
                kept = kept_df.count()
                count.counts["kept"] = kept
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        pairs_span.counts["pairs"] = len(got)
        problems = []
        missing = self.expected_pairs - set(got)
        if missing:
            problems.append(f"{len(missing)} planted pairs not returned, "
                            f"e.g. {sorted(missing)[:3]}")
        rng = random.Random(self.seed + it)
        for a, b in rng.sample(sorted(got), min(self.SAMPLE, len(got))):
            j = jaccard(self.texts[a], self.texts[b])
            if j < self.THRESHOLD or abs(j - got[(a, b)]) > 1e-6:
                problems.append(f"pair {a},{b}: reported {got[(a, b)]}, "
                                f"recomputed {j}")
                break
        expect_kept = self.docs - _merged_away(got)
        if kept != expect_kept:
            problems.append(f"kept {kept} documents, union-find over the "
                            f"returned pairs keeps {expect_kept}")
        digest = hashlib.sha256("\n".join(
            f"{a}|{b}" for a, b in sorted(got)).encode()).hexdigest()[:16]
        return Outcome(f"{len(got)}:{kept}:{digest}", problems)


def _merged_away(pairs) -> int:
    """Documents a keep-one-per-component pass drops: sum over the
    components of the pair graph of (size - 1)."""
    parent: Dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    merged = 0
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            merged += 1
    return merged


def reference_job(spark, parts: int) -> None:
    """A fixed plain-PySpark job, no package code: column-by-column plan
    build, a window, an aggregation joined back, a noop sink and two small
    collects. Its wall time next to an iteration measures how fast the
    shared box runs Spark at that moment."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 50_000, 1, parts).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("ts"),
        (F.col("id") * 7919 % 10007).alias("v"))
    for i in range(8):
        df = df.withColumn(f"c{i}", F.col("v") * i + F.col("k"))
    df = df.withColumn("lag", F.lag("v").over(
        Window.partitionBy("k").orderBy("ts")))
    agg = df.groupBy("k").agg(F.sum("lag").alias("s"),
                              F.count(F.lit(1)).alias("n"))
    df.join(agg, "k").write.format("noop").mode("overwrite").save()
    for _ in range(2):
        spark.range(0, 1000, 1, parts).groupBy(
            (F.col("id") % 7).alias("m")).count().collect()


WORKLOADS = {w.name: w for w in (PitFeatures, CriteoEncodeWrite, NearDedup)}
