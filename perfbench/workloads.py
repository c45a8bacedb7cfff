"""The three workloads, as sequences of public calls into the package.

Each call is a pair ``build`` (the public function that returns a
DataFrame) and ``finish`` (the action that completes the result), plus a
``check`` against the expected output ``prepare.py`` computed with DuckDB.
A round is the unit the workload repeats; cached data is released between
rounds, so no round reuses what the one before left behind.

- ``bulk_validate`` — one round is one pass: ``clean_and_validate`` with
  ``datagen.documents_schema()`` and ``observe_validation_stats`` over the
  staged pages, the exploded violation rows written to Parquet, and the
  per-(name, type) counts read back.  Bound by execution.
- ``micro_batches`` — one client in a closed loop over 5k-document batches;
  one round is five calls, one of each type below.  Warm-up rounds read a
  1k-document batch, except the last one.  Call ``i`` builds a
  fresh ``SimpleSchema`` (a cold compile) when ``i % 5 == (i // 5) % 5``, so
  one call in five is cold and the cold slot rotates over the call types.
  Bound by plan construction.
- ``corpus_checks`` — one round runs every corpus-level operator once.
  Bound by the Spark jobs the operators fire before they return.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from prepare import BANNED_TYPE, norm_rows


@dataclass
class Call:
    module: str
    fn: str
    build: Callable[[], DataFrame]
    finish: Callable[[DataFrame], Any]
    check: Callable[[Any], bool]
    cold: bool = False


def collect_rows(df: DataFrame):
    return df.columns, [tuple(r) for r in df.collect()]


def matches(expected: dict) -> Callable[[Any], bool]:
    def check(result) -> bool:
        cols, h, n = norm_rows(*result)
        return (cols, h, n) == (expected["cols"], expected["hash"], expected["rows"])
    return check


def count_check(expected: dict) -> Callable[[Any], bool]:
    """Compare per-(name, type) counts, and the observed totals when the
    call observed them."""
    def check(result) -> bool:
        counts, observed = result
        if counts != expected["counts"]:
            return False
        return observed is None or observed == {
            "n_rows": expected["n_rows"],
            "violation_count": expected["violation_count"],
            "invalid_rows": expected["invalid_rows"],
        }
    return check


def counts_of(rows) -> dict:
    return {f"{r[0]}/{r[1]}": int(r[2]) for r in rows}


# ---------------------------------------------------------------------------
# schemas (definitions mirror the contract's, built here so a cold call can
# construct a fresh instance)
# ---------------------------------------------------------------------------


def contract_doc_schema():
    import __spark_entry__ as entry
    from simpl_schema_spark.schema import SimpleSchema

    return SimpleSchema({
        "doc_id": {"type": int, "min": 0},
        "text": {"type": str, "min": entry._TEXT_MIN},
        "lang": {"type": str, "allowedValues": entry._ALLOWED_LANGS},
        "source": {"type": str, "regEx": re.compile(entry._SOURCE_RE)},
        "n_chars": {"type": int, "min": 0, "max": entry._NCHARS_MAX},
    })


def object_set_schema():
    """The contract's object-valued ``$set`` schema plus a required
    ``source`` key, which upserts that do not set it must report."""
    import __spark_entry__ as entry
    from simpl_schema_spark.schema import SimpleSchema

    return SimpleSchema({
        "meta": {"type": dict},
        "meta.lang": {"type": str, "allowedValues": entry._ALLOWED_LANGS},
        "meta.n": {"type": int, "min": 0, "max": entry._NCHARS_MAX},
        "source": {"type": str},
    })


def json_schema():
    import __spark_entry__ as entry
    from simpl_schema_spark.schema import SimpleSchema

    return SimpleSchema({
        "lang": {"type": str, "allowedValues": entry._ALLOWED_LANGS},
        "n": {"type": int, "min": 0, "max": entry._NCHARS_MAX},
        "tags": {"type": SimpleSchema.Array, "optional": True},
        "tags.$": {"type": str, "max": 4},
    })


def banned_text_validator(banned_words: frozenset):
    """A Python custom validator, so the call runs Arrow workers."""
    def banned_text(v):
        if v is not None and v.split(" ", 1)[0] in banned_words:
            return BANNED_TYPE
        return None
    return banned_text


def pages_schema(banned_words: frozenset | None = None):
    from simpl_schema_spark import datagen

    schema = datagen.documents_schema()
    if banned_words is not None:
        schema.extend({"text": {"custom": banned_text_validator(banned_words)}})
    return schema


# ---------------------------------------------------------------------------
# input derivations that mirror the contract queries, so their oracles apply
# ---------------------------------------------------------------------------


def modifier_ops(d: DataFrame) -> DataFrame:
    """q_validate_modifiers' modifier table."""
    q = lambda c: F.concat(F.lit('"'), F.col(c), F.lit('"'))  # noqa: E731
    rows = [
        ("$set", "lang", q("lang")),
        ("$set", "n_chars", F.col("n_chars").cast("string")),
        ("$inc", "n_chars", F.lit("100000")),
        ("$unset", "text", F.lit('""')),
        ("$set", "source", q("source")),
    ]
    return d.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(op).alias("op"), F.lit(k).alias("key_path"), v.alias("value"))
            for op, k, v in rows
        ])).alias("m"),
    ).select("doc_id", "m.op", "m.key_path", "m.value", F.lit(False).alias("upsert"))


def modifier_object_upsert(d: DataFrame) -> DataFrame:
    """q_validate_object_set's object-valued ``$set``; every third document
    is an upsert."""
    did = F.col("doc_id")
    val = F.concat(
        F.lit("{"),
        F.when(did % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit('"lang": "'), F.col("lang"), F.lit('", '))),
        F.lit('"n": '), F.col("n_chars").cast("string"),
        F.when(did % 7 == 0, F.lit(', "extra": 1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    return d.select(
        "doc_id", F.lit("$set").alias("op"), F.lit("meta").alias("key_path"),
        val.alias("value"), (did % 3 == 0).alias("upsert"),
    )


def json_blobs(d: DataFrame) -> DataFrame:
    """q_validate_json_docs' heterogeneous JSON column."""
    did = F.col("doc_id")
    blob = F.concat(
        F.lit("{"),
        F.when(did % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit('"lang": "'), F.col("lang"), F.lit('", '))),
        F.lit('"n": '),
        F.when(did % 13 == 0, F.lit('"oops"')).otherwise(F.col("n_chars").cast("string")),
        F.when(did % 5 == 0, F.concat(
            F.lit(', "tags": ["'), F.col("lang"), F.lit('", "'), F.col("source"), F.lit('"'),
            F.when(did % 10 == 0, F.concat(F.lit(", "), F.col("n_chars").cast("string")))
            .otherwise(F.lit("")),
            F.lit("]"),
        )).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(', "extra": 1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    return d.select("doc_id", blob.alias("json_blob"))


def with_dups(d: DataFrame) -> DataFrame:
    """The contract's duplicate injection (_docs_with_dups)."""
    dup = d.where(F.col("doc_id") < 20).withColumn("doc_id", F.col("doc_id") + 10000)
    return d.unionByName(dup)


def host_links(d: DataFrame) -> DataFrame:
    """q_host_pagerank's link table: 41 hosts, sources ≡ 3 (mod 7) dangling."""
    did = F.col("doc_id")
    s = did % 41
    links = None
    for k in range(3):
        dst = (did * 7 + 13 * k + 1) % 41
        part = d.select(
            F.concat(F.lit("https://h"), s.cast("string"), F.lit(".example/p"), did).alias("url"),
            F.concat(F.lit("https://h"), dst.cast("string"), F.lit(".example/q")).alias("outlink"),
        ).where((s % 7) != 3)
        links = part if links is None else links.unionByName(part)
    return links


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name: str
    #: documents one round reads, for docs_per_s
    docs_per_round: int
    #: untimed rounds before measuring: ``warmup_rounds`` on the warm-up
    #: inputs, then ``full_warmup_rounds`` on the measured ones
    warmup_rounds = 1
    full_warmup_rounds = 0
    #: measured rounds a run takes at least, however long they last
    min_rounds = 1
    #: whether the call percentiles are taken over rounds instead of calls
    call_is_round = False

    def __init__(self, spark: SparkSession, work: str, expected: dict):
        self.spark, self.work, self.expected = spark, work, expected
        #: seconds spent constructing each SimpleSchema, for schema.construct_s
        self.construct_s: list[float] = []

    def timed_schema(self, make: Callable[[], Any]):
        t0 = time.perf_counter()
        schema = make()
        self.construct_s.append(time.perf_counter() - t0)
        return schema

    def round(self, warmup: bool = False) -> list[Call]:
        """The calls of one round; a warm-up round may read smaller inputs.
        A set-up's warm-up call is the first call of a warm-up round."""
        raise NotImplementedError


class BulkValidate(Workload):
    name = "bulk_validate"

    def __init__(self, spark: SparkSession, work: str, expected: dict):
        super().__init__(spark, work, expected)
        self.schema = self.timed_schema(pages_schema)
        self.docs_per_round = expected["pages"]["n_rows"]

    def pass_call(self, table: str) -> Call:
        from simpl_schema_spark.checks import observe_validation_stats
        from simpl_schema_spark.pipeline import clean_and_validate

        src = self.spark.read.parquet(f"{self.work}/{table}")
        holder = {}

        def build() -> DataFrame:
            validated = clean_and_validate(src, self.schema)
            observed, holder["obs"] = observe_validation_stats(validated)
            return observed.select("url", F.explode("violations").alias("v")).select(
                "url", "v.name", "v.type", "v.value")

        def finish(df: DataFrame):
            out = f"{self.work}/violations"
            df.write.mode("overwrite").parquet(out)
            rows = self.spark.read.parquet(out).groupBy("name", "type").count().collect()
            m = holder["obs"].get
            observed = {k: int(m[k]) for k in ("n_rows", "violation_count", "invalid_rows")}
            return counts_of(rows), observed

        return Call("pipeline", "clean_and_validate", build, finish, count_check(self.expected[table]))

    def round(self, warmup: bool = False) -> list[Call]:
        # the warm-up round ends with one full pass: the first pass over the
        # full input runs ~30% slower than the ones after it
        if warmup:
            return [self.pass_call("warmup_pages"), self.pass_call("pages")]
        return [self.pass_call("pages")]


class MicroBatches(Workload):
    name = "micro_batches"
    # the first round on the 5k batches ran 10-30% slower than the next
    # ones, so the last warm-up round reads them too.  A second such round
    # cost 6 s a run and did not narrow the spread between runs.
    warmup_rounds = 1
    full_warmup_rounds = 1
    # rounds differ in which call is cold: five rounds are one whole cycle,
    # so every run measures each call type cold once.  With a time limit
    # alone a slow host got fewer rounds, and so a different mix.
    min_rounds = 5
    TYPES = ("with_violations", "clean_and_validate", "modifier_ops",
             "modifier_object_upsert", "json_column")

    def __init__(self, spark: SparkSession, work: str, expected: dict):
        super().__init__(spark, work, expected)
        self.banned = frozenset(expected["banned_words"])
        self.n_batches = len(expected["batches"]) - 1  # all but "warmup"
        self.docs_per_round = len(self.TYPES) * expected["batch_docs"]
        self.schemas = {t: self.make_schema(t) for t in self.TYPES}
        self.i = 0

    def make_schema(self, kind: str):
        if kind in ("with_violations", "modifier_ops"):
            return self.timed_schema(contract_doc_schema)
        if kind == "clean_and_validate":
            return self.timed_schema(lambda: pages_schema(self.banned))
        if kind == "modifier_object_upsert":
            return self.timed_schema(object_set_schema)
        return self.timed_schema(json_schema)

    def call(self, kind: str, batch: str, cold: bool) -> Call:
        from simpl_schema_spark.jsondoc import validate_json_column
        from simpl_schema_spark.modifiers import validate_modifier_table
        from simpl_schema_spark.pipeline import clean_and_validate
        from simpl_schema_spark.validation import with_violations

        exp = self.expected["batches"][batch][kind]
        base = f"{self.work}/batch{batch}"
        pick = (lambda: self.make_schema(kind)) if cold else (lambda: self.schemas[kind])

        def explode(df: DataFrame, keep: str | None) -> DataFrame:
            cols = [keep] if keep else []
            return df.select(*cols, F.explode("violations").alias("v")).select(
                *cols, "v.name", "v.type", "v.value")

        if kind == "with_violations":
            d = self.spark.read.parquet(f"{base}/documents")
            return Call("validation", "with_violations",
                        lambda: explode(with_violations(d, pick()), "doc_id"),
                        collect_rows, matches(exp), cold)
        if kind == "clean_and_validate":
            p = self.spark.read.parquet(f"{base}/pages")

            def finish(df: DataFrame):
                return counts_of(df.groupBy("name", "type").count().collect()), None

            return Call("pipeline", "clean_and_validate",
                        lambda: explode(clean_and_validate(p, pick()), None),
                        finish, count_check(exp), cold)
        d = self.spark.read.parquet(f"{base}/documents")
        if kind == "modifier_ops":
            mods = modifier_ops(d)
            return Call("modifiers", "validate_modifier_table",
                        lambda: validate_modifier_table(mods, pick()).select(
                            "doc_id", "name", "type", "value"),
                        collect_rows, matches(exp), cold)
        if kind == "modifier_object_upsert":
            mods = modifier_object_upsert(d)
            return Call("modifiers", "validate_modifier_table",
                        lambda: validate_modifier_table(mods, pick()).select(
                            "doc_id", "name", "type", "value"),
                        collect_rows, matches(exp), cold)
        blobs = json_blobs(d)
        return Call("jsondoc", "validate_json_column",
                    lambda: validate_json_column(blobs, pick()).select("doc_id", "name", "type"),
                    collect_rows, matches(exp), cold)

    def round(self, warmup: bool = False) -> list[Call]:
        calls = []
        for kind in self.TYPES:
            i = self.i
            self.i += 1
            batch = "warmup" if warmup else str(i % self.n_batches)
            calls.append(self.call(kind, batch, cold=i % 5 == (i // 5) % 5))
        return calls


class CorpusChecks(Workload):
    name = "corpus_checks"
    # the caller waits on the whole suite; per operator the times fall in
    # two clusters (0.2-0.8 s and 1-3 s), so the median of one round's eight
    # operators sat in the gap and spread 31% across runs
    call_is_round = True

    def __init__(self, spark: SparkSession, work: str, expected: dict):
        super().__init__(spark, work, expected)
        self.docs_per_round = expected["corpus_docs"]

    def calls(self, name: str) -> list[Call]:
        from simpl_schema_spark.checks import (
            categorical_counts, categorical_drift_psi, column_profile,
            duplicate_keys, numeric_drift_ks_exact, referential_violations,
        )
        from simpl_schema_spark.dedup import connected_components, ngram_jaccard_pairs
        from simpl_schema_spark.graph import pagerank
        from simpl_schema_spark.text import host_edges

        base = f"{self.work}/{name}"
        read = lambda t: self.spark.read.parquet(f"{base}/{t}")  # noqa: E731
        exp = self.expected[name]
        d, li, ev, cust = read("documents"), read("lineitem"), read("events"), read("customer")
        dd = with_dups(d)
        pairs = {}

        def ngram() -> DataFrame:
            pairs["df"] = ngram_jaccard_pairs(dd, threshold=0.999, max_shingle_df=50)
            return pairs["df"].select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))

        return [
            Call("checks", "duplicate_keys",
                 lambda: duplicate_keys(li, ["l_orderkey"], salt_buckets=8).select(
                     "l_orderkey", "dup_count"),
                 collect_rows, matches(exp["duplicate_keys"])),
            Call("checks", "referential_violations",
                 lambda: referential_violations(
                     ev, cust.where(F.col("c_custkey") < 100).select("c_custkey"),
                     "user_id", "c_custkey").select("event_id", "user_id"),
                 collect_rows, matches(exp["referential_violations"])),
            Call("checks", "numeric_drift_ks_exact",
                 lambda: numeric_drift_ks_exact(
                     d.where(F.col("source") == "src0"), d, "n_chars").select(
                     F.round("ks_statistic", 6).alias("ks_statistic")),
                 collect_rows, matches(exp["numeric_drift_ks_exact"])),
            Call("checks", "categorical_drift_psi",
                 lambda: categorical_drift_psi(
                     d.where(F.col("source") == "src1"), categorical_counts(d, "lang"),
                     "lang").select(F.round("psi", 6).alias("psi"), "n_current", "n_categories"),
                 collect_rows, matches(exp["categorical_drift_psi"])),
            Call("checks", "column_profile",
                 lambda: column_profile(d).select(
                     "column", "n_rows", "null_count", "min_value", "max_value"),
                 collect_rows, matches(exp["column_profile"])),
            Call("dedup", "ngram_jaccard_pairs", ngram,
                 collect_rows, matches(exp["ngram_jaccard_pairs"])),
            Call("dedup", "connected_components",
                 lambda: connected_components(pairs["df"]).select(
                     F.col("id").alias("doc_id"), "component"),
                 collect_rows, matches(exp["connected_components"])),
            Call("graph", "pagerank",
                 lambda: pagerank(host_edges(host_links(d)), weight="n_links",
                                  iterations=3, checkpoint_every=0).select(
                     F.col("id").alias("host"), F.round("rank", 9).alias("rank")),
                 collect_rows, matches(exp["pagerank"])),
        ]

    def round(self, warmup: bool = False) -> list[Call]:
        return self.calls("warmup" if warmup else "corpus")


WORKLOADS = {w.name: w for w in (BulkValidate, MicroBatches, CorpusChecks)}
