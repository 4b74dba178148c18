"""Local driver-sim: run every queries() entry against its oracle_sql()
via DuckDB and compare row count + column names + order-insensitive
values — a stricter local version of the driver's CORRECTNESS gate.

Usage: python tools/check.py [--all] [sf_dir] [query ...]

``--all`` is the CI mode: ignores any query filter, runs the FULL
declared set, and exits non-zero on any non-green — so "declared but
never value-verified" cannot recur.

Leak gate: each query is built and consumed inside one ``pin_scope``;
a query that leaves more persistent RDDs, CacheManager entries or
checkpoint files behind its scope than the session held before it
fails, whatever its values.
"""

from __future__ import annotations

import math
import os
import sys
import urllib.parse
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return "∅"
    if isinstance(v, Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def row_key(row, cols_order):
    return tuple(norm(row[i]) for i in cols_order)


def storage_counts(spark) -> tuple[int, int, int]:
    """What a query can leave behind in the session: (persistent RDDs,
    CacheManager entries, files under the checkpoint dir)."""
    sc = spark.sparkContext
    rdds = int(sc._jsc.getPersistentRDDs().size())
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = int(field.get(cm).size())
    root = sc.getCheckpointDir()
    files = 0
    if root is not None:
        files = sum(len(fs) for _, _, fs in os.walk(urllib.parse.urlparse(root).path))
    return rdds, entries, files


def storage_surplus(spark, before: tuple[int, int, int]) -> tuple[int, int, int]:
    """:func:`storage_counts` now minus ``before``; storage the
    ContextCleaner freed meanwhile does not offset a leak."""
    return tuple(max(0, a - b) for a, b in zip(storage_counts(spark), before))


def compare(name, spark_df, sql, con, duck=None) -> list[str]:
    errs = []
    sdf = spark_df
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if duck is not None:  # precomputed fast-oracle result (cols, rows)
        dcols, drows = duck
    else:
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()

    if sorted(scols) != sorted(dcols):
        errs.append(f"columns differ: spark={sorted(scols)} duck={sorted(dcols)}")
        return errs
    if len(srows) != len(drows):
        errs.append(f"row count differ: spark={len(srows)} duck={len(drows)}")
    s_order = [scols.index(c) for c in sorted(scols)]
    d_order = [dcols.index(c) for c in sorted(dcols)]
    sset = sorted(row_key(r, s_order) for r in srows)
    dset = sorted(row_key(r, d_order) for r in drows)
    if sset != dset:
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b]
        errs.append(f"values differ ({len(diffs)} mismatched rows of {len(sset)})")
        for a, b in diffs[:3]:
            errs.append(f"  spark={a}")
            errs.append(f"  duck ={b}")
    return errs


def _pack_sequences_fast(con):
    """O(n) Python-fold twin of the doc_pack_sequences recursive-CTE
    oracle (VERDICT r12 #7: the CTE re-joins the full token table once
    PER RECURSION STEP — O(n^2/langs), ~45 min alone at sf1, dominating
    the full-oracle wall). Tokenization stays in DuckDB (identical to
    the SQL oracle's first CTE); only the inherently sequential greedy
    bin-pack fold moves to Python. Semantics are identical: walk docs
    per lang in doc_id order, start a new bin when the running token
    sum would exceed 256. test_check_fast_oracles.py pins fold == CTE
    row-for-row."""
    rows = con.execute(
        """
        SELECT lang, doc_id,
               CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tokens
        FROM documents ORDER BY lang, doc_id
        """
    ).fetchall()
    out = []
    cur_lang, b, bt = object(), 0, 0
    for lang, doc_id, tokens in rows:
        if lang != cur_lang:
            cur_lang, b, bt = lang, 0, tokens
        elif bt + tokens > 256:
            b, bt = b + 1, tokens
        else:
            bt += tokens
        out.append((lang, doc_id, tokens, b, bt))
    return ["lang", "doc_id", "tokens", "bin", "bin_tokens"], out


#: queries with a Python fast-oracle twin, substituted only at sf1+
#: scale (documents > 10k rows) so the DECLARED SQL oracle — the one
#: the driver actually runs — stays exercised at sf0.001/0.01/0.1
FAST_ORACLES = {"doc_pack_sequences": _pack_sequences_fast}


def _fast_oracle_scale(con) -> bool:
    try:
        return con.execute("SELECT count(*) FROM documents").fetchone()[0] > 10_000
    except Exception:
        return False


def main():
    argv = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set() if run_all else set(argv[1:])

    import __spark_entry__ as entrymod
    from deltaforge_spark.plans.lineage import pin_scope
    from deltaforge_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        before = storage_counts(spark)
        errs, n = [], None
        try:
            with pin_scope():
                if name not in oracles:
                    n = fn(spark, sf_dir).count()
                else:
                    duck = None
                    if name in FAST_ORACLES and _fast_oracle_scale(con):
                        duck = FAST_ORACLES[name](con)
                    errs = compare(name, fn(spark, sf_dir), oracles[name], con, duck=duck)
        except Exception as e:
            errs = [f"EXCEPTION {type(e).__name__}: {e}"]
        surplus = storage_surplus(spark, before)
        if any(surplus):
            errs.append(f"leaked storage (rdds, cache entries, files): {surplus}")
        if n is not None and not errs:
            print(f"  ~ {name}: no oracle (rows-only) → {n} rows")
        elif errs:
            failed.append(name)
            print(f"  ✗ {name}")
            for e in errs:
                print(f"      {e}")
        else:
            print(f"  ✓ {name}")
    scope = "full set" if checked == len(qs) else f"subset of {len(qs)} declared"
    print(f"\n{checked - len(failed)}/{checked} ok ({scope})")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
