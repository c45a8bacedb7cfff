"""Stage one workload's inputs and compute its expected outputs.

Run as a child process of ``run.py`` so that neither the generator's memory
nor DuckDB lives in the measured process:

    python3 perfbench/prepare.py --workload micro_batches --seed 7 --out DIR --files 8

Writes the staged Parquet tables under ``DIR`` and ``DIR/expected.json``.
Expected outputs come from DuckDB over the same staged files, never from the
engine.  Where a table has the shape of a ``__spark_entry__.py`` contract
table the query text is the contract's own ``oracle_sql()`` entry, hashed the
way ``scripts/verify_driver_contract.py`` hashes it; the remaining checks are
written here.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def norm_rows(cols, rows):
    """(sorted columns, hash, row count) — the contract verifier's
    normalisation: columns in name order, floats to 6 significant digits,
    rows sorted."""
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return sorted(cols), hashlib.sha256("\x1e".join(out).encode()).hexdigest()[:16], len(out)


def expect(con, sql: str) -> dict:
    res = con.execute(sql)
    cols, h, n = norm_rows([d[0] for d in res.description], res.fetchall())
    return {"cols": cols, "hash": h, "rows": n}


def view(con, name: str, path: str) -> None:
    con.execute(f"create or replace view {name} as select * from read_parquet('{path}/*.parquet')")


# ---------------------------------------------------------------------------
# pages: the rules of datagen.documents_schema() after cleaning
# ---------------------------------------------------------------------------

#: Custom validator fixture for the micro-batch clean_and_validate call: a
#: cleaned text whose first word is one of the vocabulary's first
#: BANNED_WORDS words (about 2% of texts) fails.
BANNED_TYPE = "bannedText"
BANNED_WORDS = 40

_PAGE_CLEANED = """
    select nullif(trim(url, ' ' || chr(9)), '') as url, warc_ts, html,
           nullif(trim(text, ' ' || chr(9)), '') as text,
           nullif(trim(lang, ' ' || chr(9)), '') as lang
      from pages
"""


def page_rules(banned_words: list[str] | None) -> list[tuple[str, str, str]]:
    """(name, type, SQL condition over the cleaned row) — at most one rule
    per key fires, in the reference's order: required, type, bounds,
    allowedValues/regEx, custom."""
    rules = [
        ("url", "required", "url is null"),
        ("url", "maxString", "length(url) > 2048"),
        ("url", "regEx", r"length(url) <= 2048 and not regexp_matches(url, '^https?://[^\s]+$')"),
        ("warc_ts", "required", "warc_ts is null"),
        ("warc_ts", "minDate", "warc_ts < TIMESTAMPTZ '2024-01-01 00:00:00+00'"),
        ("warc_ts", "maxDate", "warc_ts > TIMESTAMPTZ '2025-01-01 00:00:00+00'"),
        ("html", "required", "html is null"),
        ("lang", "notAllowed", "lang is not null and lang not in ('en', 'de', 'fr', 'es', 'zh')"),
    ]
    if banned_words:
        listed = ", ".join(f"'{w}'" for w in banned_words)
        rules.append(("text", BANNED_TYPE, f"split_part(text, ' ', 1) in ({listed})"))
    return rules


def page_expectation(con, banned_words: list[str] | None = None) -> dict:
    """Per-(name, type) violation counts plus the row-level totals
    ``observe_validation_stats`` reports."""
    rules = page_rules(banned_words)
    flags = ", ".join(
        f"coalesce(({cond}), false)::int as r{i}" for i, (_, _, cond) in enumerate(rules)
    )
    per_rule = ", ".join(f"sum(r{i})" for i in range(len(rules)))
    any_rule = " + ".join(f"r{i}" for i in range(len(rules)))
    row = con.execute(
        f"with f as (select {flags} from ({_PAGE_CLEANED})) "
        f"select count(*), {per_rule}, count_if(({any_rule}) > 0) from f"
    ).fetchone()
    counts = {f"{n}/{t}": int(c) for (n, t, _), c in zip(rules, row[1:-1]) if c}
    return {
        "n_rows": int(row[0]),
        "counts": counts,
        "violation_count": sum(counts.values()),
        "invalid_rows": int(row[-1]),
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def prepare_bulk(rng, vocab, out, n_files, con) -> dict:
    sz = gen.BULK
    gen.stage(gen.pages(rng, vocab, sz["warmup_pages"]), f"{out}/warmup_pages", 2)
    gen.stage(gen.pages(rng, vocab, sz["pages"]), f"{out}/pages", n_files)
    exp = {}
    for name in ("warmup_pages", "pages"):
        view(con, "pages", f"{out}/{name}")
        exp[name] = page_expectation(con)
    return exp


def prepare_micro(rng, vocab, out, con) -> dict:
    """Per batch: a contract-shaped ``documents`` table and a ``pages``
    table.  The expected output of each call type over each batch."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    sz = gen.MICRO
    banned = [str(w) for w in vocab[:BANNED_WORDS]]
    exp = {"banned_words": banned, "batch_docs": sz["batch_docs"], "batches": {}}
    upsert = (
        "select doc_id, 'source' as name, 'required' as type, "
        "cast(null as varchar) as value from documents where doc_id % 3 = 0"
    )
    n = sz["batch_docs"]
    # the measured batches, then a smaller one for the warm-up rounds
    sizes = [(str(b), b * n, n) for b in range(sz["batches"])]
    sizes.append(("warmup", sz["batches"] * n, sz["warmup_docs"]))
    for b, first, size in sizes:
        docs = f"{out}/batch{b}/documents"
        pages = f"{out}/batch{b}/pages"
        gen.stage(gen.documents(rng, vocab, np.arange(first, first + size)), docs, 1)
        gen.stage(gen.pages(rng, vocab, size), pages, 1)
        view(con, "documents", docs)
        view(con, "pages", pages)
        exp["batches"][b] = {
            "with_violations": expect(con, oracles["validate_documents"]),
            "clean_and_validate": page_expectation(con, banned),
            "modifier_ops": expect(con, oracles["validate_modifiers"]),
            "modifier_object_upsert": expect(
                con, f"{oracles['validate_object_set']} union all {upsert}"
            ),
            "json_column": expect(con, oracles["validate_json_docs"]),
        }
    return exp


def prepare_corpus(rng, vocab, out, n_files, con) -> dict:
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    sz = gen.CORPUS
    exp = {"corpus_docs": sz["docs"]}
    for name, n_docs in (("warmup", sz["warmup_docs"]), ("corpus", sz["docs"])):
        d = f"{out}/{name}"
        ids = np.arange(n_docs)
        # keep [10000, 10020) free: the contract's duplicate injection
        # (_DUP_DOCS_SQL, mirrored in workloads.with_dups) copies
        # doc_id < 20 to doc_id + 10000
        ids = np.where(ids >= 10000, ids + 20, ids)
        gen.stage(gen.documents(rng, vocab, ids, sz["dup_frac"], sz["near_dup_frac"]),
                  f"{d}/documents", n_files)
        gen.stage(gen.lineitem(rng, sz["lineitem_per_doc"] * n_docs), f"{d}/lineitem", n_files)
        gen.stage(gen.events(rng, sz["events_per_doc"] * n_docs), f"{d}/events", n_files)
        gen.stage(gen.customer(sz["customers"]), f"{d}/customer", 1)
        for t in ("documents", "lineitem", "events", "customer"):
            view(con, t, f"{d}/{t}")
        exp[name] = {
            op: expect(con, oracles[q]) for op, q in (
                ("duplicate_keys", "duplicate_orderkeys"),
                ("referential_violations", "referential_events"),
                ("numeric_drift_ks_exact", "ks_drift_nchars"),
                ("categorical_drift_psi", "lang_psi_drift"),
                ("column_profile", "column_stats"),
                ("ngram_jaccard_pairs", "ngram_jaccard_dups"),
                ("connected_components", "near_dup_components"),
                ("pagerank", "host_pagerank"),
            )
        }
    return exp


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, required=True, help="Parquet files per large table")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import duckdb

    rng = np.random.default_rng(args.seed)
    vocab = gen.vocabulary(rng)
    con = duckdb.connect()
    con.execute("set threads to 2")
    if args.workload == "bulk_validate":
        exp = prepare_bulk(rng, vocab, args.out, args.files, con)
    elif args.workload == "micro_batches":
        exp = prepare_micro(rng, vocab, args.out, con)
    elif args.workload == "corpus_checks":
        exp = prepare_corpus(rng, vocab, args.out, args.files, con)
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")
    con.close()
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
