"""Output checks for the benchmark's checked pass.

Queries with oracle SQL are replayed in DuckDB on the same generated
tables and compared with the normalization of tools/check_oracle.py
(sorted columns and rows, micros timestamps, strings as str, dtypes
equal); as there, every value must be equal, floats bit-equal. The
three rows-only queries get checks that hold on any input:

- q33 (MinHash LSH): a non-empty pair set that lies between q32's
  oracle pairs with Jaccard 1.0 (equal shingle sets have equal
  signatures, so LSH must find them all) and all of q32's oracle pairs
  (Jaccard >= 0.5, with the same Jaccard value).
- q34 (banded SimHash): the pair set equals the brute-force cartesian
  hamming <= 6 pair set over the same signatures (`_q34_exact`).
- q37 (IVF ANN): 50 rows, ranks 1..5 for each of the 10 probe vectors,
  distinct candidates that are not probes.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(mine, ref):
    """Differences between two result frames, as a list of strings."""
    a, b = normalize(mine.copy()), normalize(ref.copy())
    if list(a.columns) != list(b.columns):
        return [f"COLS {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"ROWS {len(a)} vs {len(b)}"]
    status = []
    for c in a.columns:
        av, bv = a[c], b[c]
        bad = ~((av == bv) | (av.isna() & bv.isna()))
        if not bad.any():
            continue
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # like check_oracle.py: a float that is not bit-equal is a
            # mismatch, even when it is within 1e-9
            close = all(abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))
                        for x, y in zip(av[bad], bv[bad]))
            status.append(f"col {c}: {int(bad.sum())} not bit-equal"
                          + (" (approx ok)" if close else " (DIVERGED)"))
        else:
            i = bad.idxmax()
            status.append(f"col {c}: {int(bad.sum())} diff e.g. {av[i]!r} vs {bv[i]!r}")
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            status.append(f"dtype {c}: {a[c].dtype} vs {b[c].dtype}")
    return status


def _pairs(df, cols):
    return set(map(tuple, df[cols].itertuples(index=False, name=None)))


def check(data, check_dir, queries):
    """{query: reason} for every query whose checked output is wrong.
    A query with no output directory threw in the checked pass; the
    harness already counted that failure."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)

    def result(name):
        return con.execute(
            f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df()

    bad = {}
    for q in queries:
        if not glob.glob(f"{check_dir}/{q}/*.parquet"):
            continue
        mine = result(q)
        try:
            if q in sql:
                diffs = compare(mine, con.execute(sql[q]).df())
            elif q == "q33_minhash_lsh_pairs":
                exact = con.execute(sql["q32_ngram_jaccard_pairs"]).df()
                found = _pairs(mine, ["a_id", "b_id", "jaccard"])
                extra = found - _pairs(exact, ["a_id", "b_id", "jaccard"])
                # equal shingle sets give equal signatures, so LSH must
                # find every Jaccard 1.0 pair
                missed = _pairs(exact[exact["jaccard"] == 1.0], ["a_id", "b_id", "jaccard"]) - found
                diffs = [] if len(mine) else ["empty result"]
                diffs += [f"{len(extra)} pairs not exact Jaccard >= 0.5"] if extra else []
                diffs += [f"{len(missed)} Jaccard 1.0 pairs missed"] if missed else []
            elif q == "q34_simhash_pairs":
                diffs = compare(mine, result("_q34_exact"))
            elif q == "q37_ann_ivf":
                ok = (len(mine) == 50
                      and sorted(mine["q_id"].unique().tolist()) == list(range(10))
                      and all(sorted(g["rank"].tolist()) == [1, 2, 3, 4, 5]
                              for _, g in mine.groupby("q_id"))
                      and (mine["c_id"] >= 10).all()
                      and not mine.duplicated(["q_id", "c_id"]).any())
                diffs = [] if ok else [f"not 10 x top-5 neighbours ({len(mine)} rows)"]
            else:
                diffs = [] if len(mine) else ["empty result"]
        except Exception as e:  # an oracle that cannot run is a failed check
            diffs = [f"check error: {e}"]
        if diffs:
            bad[q] = "; ".join(diffs)
    return bad
