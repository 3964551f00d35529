"""Output checks, run after the timed region.

* SQL and dedup jobs: the output parquet against the job's DuckDB oracle
  query (``SparkEntry.oracleSql``), compared by row count, column set and
  an order-insensitive hash of the values (columns sorted by name, rows
  sorted, floats by repr), the same canonical form as
  ``scripts/oracle_check.py``.
* ``mr_text`` jobs: against a single-threaded fold over the generated
  files, the reference's ``mrsequential.go`` algorithm (map every file,
  group by key, reduce each group over its sorted values).
"""
import glob
import hashlib
import os
import re
from collections import Counter, defaultdict

import duckdb
import pandas as pd

from gen import TABLES

# Go's FieldsFunc(!unicode.IsLetter) / the engine's [^\p{L}]+ split: a
# word is a maximal run of letters
WORD = re.compile(r"[^\W\d_]+")


def canon(df):
    cols = sorted(df.columns)
    df = df.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = ["\x01".join(cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]


def summary(df):
    return len(df), sorted(df.columns), canon(df)


class Oracle:
    """DuckDB over the generated tables; one canonical summary per job."""

    def __init__(self, data_dir, sql):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self.sql = sql
        self.want = {}

    def check(self, job, out_dir):
        """None when ``out_dir`` holds the oracle's answer, else the cause."""
        if job not in self.sql:
            return "no oracle query for this job"
        if job not in self.want:
            self.want[job] = summary(self.con.execute(self.sql[job]).df())
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not files:
            return "no output files"
        got = summary(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        return _diff(got, self.want[job])


def _diff(got, want):
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"columns {got[1]} != oracle {want[1]}"
    if got[2] != want[2]:
        return "value hash differs from oracle"
    return None


def fold(files):
    """Expected outputs of the four mr_text jobs from (name, text) pairs
    in doc_id order: wc and indexer lines as the compat layer writes them
    (``key value``), and the native layer's rows."""
    counts = Counter()
    docs = defaultdict(set)
    for i, (name, text) in enumerate(files):
        words = WORD.findall(text)
        counts.update(words)
        for w in set(words):
            docs[w].add((name, f"doc_{i}"))
    wc = sorted(f"{w} {n}" for w, n in counts.items())
    indexer = sorted(f"{w} {len(d)} {','.join(sorted(n for n, _ in d))}"
                     for w, d in docs.items())
    native_wc = sorted((w, n) for w, n in counts.items())
    native_ix = sorted((w, len(d), ",".join(sorted(x for _, x in d)))
                       for w, d in docs.items())
    return {
        "mr_wc_compat": wc, "mr_indexer_compat": indexer,
        "mr_wc": native_wc, "mr_indexer": native_ix,
        "stats": {"files": len(files), "bytes": sum(len(t.encode()) for _, t in files),
                  "tokens": sum(counts.values()), "distinct_words": len(counts)},
    }


def check_mr(job, out_dir, expected):
    """None when the mr job's output equals the fold's, else the cause."""
    if job.endswith("_compat"):
        lines = []
        for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(f, encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
        got = sorted(lines)
    else:
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not files:
            return "no output files"
        df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        got = sorted(tuple(v.item() if hasattr(v, "item") else v for v in row)
                     for row in df.itertuples(index=False, name=None))
    want = expected[job]
    if len(got) != len(want):
        return f"{len(got)} keys != fold's {len(want)}"
    bad = next((b for a, b in zip(got, want) if a != b), None)
    return None if bad is None else f"differs from the fold first at {str(bad)[:80]!r}"
