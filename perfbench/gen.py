"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed (the same seed gives
byte-identical files):

* ``tables(dir, seed, sf)`` writes the ten fixture tables the engine's
  loaders read (``graft.Tables``): a TPC-H-like star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables, with the same
  schemas, key ranges and value distributions as the fixture the engine
  is tested on, scaled by ``sf``.
* ``corpus(files_dir, docs_path, seed, n_files, total_bytes)`` writes the
  ``mr_text`` corpus: whole UTF-8 text files whose words are letter runs drawn
  Zipf(1.07) from a 50k vocabulary that includes non-ASCII letters, with
  5% capitalised variants and digits and punctuation as separators.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Letters whose upper case is one different letter, so a capitalised
# variant is a distinct word under every tokenizer involved.
LETTERS = ("abcdefghijklmnopqrstuvwxyz" * 4) + "àáâäçèéêëíîñóôöúüøåæ" + \
    "αβγδεζηθικλμνξοπρστυφχψω" + "абвгдежзийклмнопрстуфхцчшщыэюя"
SEPARATORS = [" "] * 40 + [", ", ". ", ";\n", "\n", " - ", "'", " (", ") ",
                           " 1984 ", " 7 ", ": ", "! ", "? ", "\n\n"]
VOCAB = 50_000
ZIPF_S = 1.07
DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(out_dir, seed, sf):
    """Write the ten fixture tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    r = _rng(seed, 1)
    _write(pa.table({
        "c_custkey": i64(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out_dir}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": i64(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)}),
        f"{out_dir}/supplier.parquet")

    r = _rng(seed, 3)
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    _write(pa.table({
        "p_partkey": i64(n_part),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    _write(pa.table({
        "o_orderkey": i64(n_ord),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out_dir}/orders.parquet")

    r = _rng(seed, 5)
    flags = r.integers(0, 6, n_line)
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[flags % 2]),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")}),
        f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 6)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(pa.table({
        "event_id": i64(n_ev),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])}),
        f"{out_dir}/events.parquet")

    documents(f"{out_dir}/documents.parquet", seed, n_docs)

    r = _rng(seed, 8)
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centers[labels] + r.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": i64(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def documents(path, seed, n_docs):
    """The documents fixture: short texts over a 30-word vocabulary, 5% of
    them an earlier document's text plus a trailing ' dup' token (the
    near-duplicates the dedup operators look for)."""
    r = _rng(seed, 7)
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(words[r.integers(0, len(words), r.integers(8, 101))])
             for _ in range(n_docs)]
    for i in np.sort(r.choice(np.arange(1, n_docs), n_docs // 20, replace=False)):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, ["en", "es", "fr", "de", "zh"], n_docs,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), path)


def vocabulary(seed):
    """VOCAB distinct lower-case letter runs, most frequent first."""
    r = _rng(seed, 20)
    letters = np.asarray(list(LETTERS), dtype=object)
    seen, out = set(), []
    while len(out) < VOCAB:
        w = "".join(letters[r.integers(0, len(letters), r.integers(2, 11))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def corpus(files_dir, docs_path, seed, n_files, total_bytes):
    """Write ``n_files`` text files of about ``total_bytes`` in all into
    ``files_dir``, and the same texts as a documents table (doc_id = file
    index, text = file contents) to ``docs_path``. Returns the file names
    in doc_id order."""
    os.makedirs(files_dir, exist_ok=True)
    r = _rng(seed, 21)
    vocab = np.asarray(vocabulary(seed), dtype=object)
    caps = np.asarray([w[0].upper() + w[1:] for w in vocab], dtype=object)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    seps = np.asarray(SEPARATORS, dtype=object)
    # file sizes vary (lognormal shares), as in a book corpus, but are the
    # same for every seed, so the balance of the map tasks over the files
    # does not change with the seed
    shares = _rng(0, 22).lognormal(0.0, 0.5, n_files)
    sizes = (shares / shares.sum() * total_bytes).astype(int)
    names, texts = [], []
    for i, size in enumerate(sizes):
        n = max(1, int(size) // 8)  # ~8 bytes per word + separator
        idx = r.choice(VOCAB, n, p=p)
        cap = r.random(n) < 0.05
        toks = np.where(cap, caps[idx], vocab[idx])
        sep = seps[r.integers(0, len(seps), n)]
        text = "".join(np.char.add(toks.astype(str), sep.astype(str)).tolist())
        name = f"pg-{i:02d}.txt"
        with open(f"{files_dir}/{name}", "w", encoding="utf-8", newline="") as f:
            f.write(text)
        names.append(name)
        texts.append(text)
    _write(pa.table({"doc_id": pa.array(np.arange(n_files, dtype=np.int64)),
                     "text": pa.array(texts, pa.string())}), docs_path)
    return names
