"""Output checks that do not use the program under test.

Each ``check_*`` function returns ``None`` when an output is right and a
one-line reason when it is not.
"""
import glob
import math
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# -- mr-apps ----------------------------------------------------------------

def fnv1a32(key):
    h = 0x811C9DC5
    for b in key.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h & 0x7FFFFFFF


def check_mr_output(out_dir, expected, n_reduce=10):
    """``expected`` maps each key to its exact output value. Every
    ``mr-out-<p>`` must hold its keys in byte-wise ascending order, each
    in shard ``fnv1a32(key) % n_reduce``, with the expected value, and
    every expected key must appear. A key repeated within a shard breaks
    the strict order; repeated in another shard, it is in the wrong one."""
    seen = set()
    files = glob.glob(os.path.join(out_dir, "mr-out-*"))
    if not files and expected:
        return "no mr-out files"
    for path in files:
        shard = int(path.rsplit("-", 1)[1])
        prev = None
        with open(path, encoding="utf-8", newline="\n") as f:
            data = f.read()
        if data and not data.endswith("\n"):
            return f"{os.path.basename(path)}: unterminated last line"
        for line in data.splitlines():
            key, _, value = line.partition(" ")
            kb = key.encode("utf-8")
            if prev is not None and kb <= prev:
                return f"{os.path.basename(path)}: key {key!r} out of order"
            prev = kb
            if fnv1a32(key) % n_reduce != shard:
                return f"{os.path.basename(path)}: key {key!r} in wrong shard"
            seen.add(key)
            want = expected.get(key)
            if want != value:
                return f"key {key!r}: got {value!r}, want {want!r}"
    if len(seen) != len(expected):
        return f"{len(expected) - len(seen)} keys missing"
    return None


def wc_expected(counts):
    return {w: str(n) for w, n in counts.items()}


def indexer_expected(docs):
    return {w: f"{len(d)} " + ",".join(sorted(d, key=lambda p: p.encode("utf-8")))
            for w, d in docs.items()}


# -- query-mix --------------------------------------------------------------
# The canonical form of tools/check_oracle.py: columns sorted by name,
# DuckDB type classes compared, rows canonicalized and sorted.

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def type_class(duck_type):
    t = duck_type.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    return t


def canonical(con, sql):
    df = con.execute(sql).fetchdf()
    types = {r[0]: type_class(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(v) for v in r) for r in df[cols].itertuples(index=False))
    return cols, [types[c] for c in cols], rows


def oracle_connection(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def check_query_output(con, result_dir, oracle):
    """``oracle`` is ``canonical(con, oracle_sql)``."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result files"
    got = canonical(con, "SELECT * FROM read_parquet(" + repr(files) + ")")
    if got[0] != oracle[0]:
        return f"columns {got[0]} != {oracle[0]}"
    if got[1] != oracle[1]:
        return f"column types {got[1]} != {oracle[1]}"
    if len(got[2]) != len(oracle[2]):
        return f"{len(got[2])} rows, oracle has {len(oracle[2])}"
    bad = [(a, b) for a, b in zip(got[2], oracle[2]) if a != b]
    if bad:
        return f"{len(bad)} rows differ; first {bad[0][0]} != {bad[0][1]}"
    return None


# -- hybrid lookups ---------------------------------------------------------

K_RRF, ARMS, TOP_N, FETCH_MARGIN = 60, 50, 20, 8


def round9(x):
    """Spark's round(x, 9) on a double: HALF_UP on the decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def words(text):
    return re.findall("[a-z]+", text.lower())


def query_terms(text, n=8):
    """The first ``n`` distinct words of a document: its lookup terms."""
    out = []
    for w in words(text):
        if w not in out:
            out.append(w)
            if len(out) == n:
                break
    return out


class Corpus:
    """Documents and unit vectors recomputed from the raw tables."""

    def __init__(self, doc_ids, texts, vec_ids, vectors):
        self.tokens = {int(d): words(t) for d, t in zip(doc_ids, texts)}
        self.tf = {d: Counter(t) for d, t in self.tokens.items()}
        v = np.asarray(vectors, dtype=np.float64)
        self.ids = np.asarray(vec_ids, dtype=np.int64)
        self.unit = v / np.sqrt((v * v).sum(axis=1, keepdims=True))
        self.row = {int(i): k for k, i in enumerate(self.ids)}
        self.df = {}
        for toks in self.tokens.values():
            for w in set(toks):
                self.df[w] = self.df.get(w, 0) + 1
        self.nn = len(self.tokens)
        self.avgdl = sum(len(t) for t in self.tokens.values()) / self.nn

    def cosines(self, qid):
        return self.unit @ self.unit[self.row[qid]]

    def bm25(self, terms):
        scores = {}
        for d, tfs in self.tf.items():
            dl = len(self.tokens[d])
            hits = [(w, tfs[w]) for w in terms if w in tfs]
            if hits:
                scores[d] = sum(
                    math.log(1 + (self.nn - self.df[w] + 0.5) / (self.df[w] + 0.5))
                    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / self.avgdl))
                    for w, tf in hits)
        return scores


def brute_force(corpus, qid, terms):
    """The fused ranking at full probe, from raw documents and vectors."""
    lex = sorted(corpus.bm25(terms).items(), key=lambda kv: (-round9(kv[1]), kv[0]))
    lex_rk = {d: i + 1 for i, (d, _) in enumerate(lex[:ARMS])}
    cos = corpus.cosines(qid)
    cand = [(float(c), int(i)) for c, i in zip(cos, corpus.ids) if i != qid]
    cand = sorted(cand, key=lambda t: (-t[0], t[1]))[:ARMS + FETCH_MARGIN]
    cand = sorted(cand, key=lambda t: (-round9(t[0]), t[1]))[:ARMS]
    sem_rk = {i: k + 1 for k, (_, i) in enumerate(cand)}
    fused = []
    for d in set(lex_rk) | set(sem_rk):
        rrf = sum(1.0 / (K_RRF + r[d]) for r in (lex_rk, sem_rk) if d in r)
        fused.append((round9(rrf), d))
    fused.sort(key=lambda t: (-t[0], t[1]))
    return [(k + 1, d, lex_rk.get(d), sem_rk.get(d))
            for k, (_, d) in enumerate(fused[:TOP_N])]


def check_lookup(corpus, qid, terms, rows, full_probe):
    """Properties every hybrid lookup must have; at full probe also
    equality with the brute-force ranking."""
    if not 1 <= len(rows) <= TOP_N:
        return f"{len(rows)} rows"
    if [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks have gaps"
    for rk, d, lex, sem, rrf in rows:
        if lex is None and sem is None:
            return f"doc {d} in neither arm"
        want = sum(1.0 / (K_RRF + x) for x in (lex, sem) if x is not None)
        if abs(rrf - want) > 1.5e-9:
            return f"doc {d}: rrf {rrf} != {want}"
    for a, b in zip(rows, rows[1:]):
        if (-a[4], a[1]) >= (-b[4], b[1]):
            return f"rank {a[0]} and {b[0]} out of (rrf desc, doc_id asc) order"
    cos = corpus.cosines(qid)
    sem = sorted((r for r in rows if r[3] is not None), key=lambda r: r[3])
    if len({r[3] for r in sem}) != len(sem):
        return "repeated semantic rank"
    for r in sem:
        if r[1] == qid:
            return "the query's own vector was returned"
    for a, b in zip(sem, sem[1:]):
        ca, cb = cos[corpus.row[a[1]]], cos[corpus.row[b[1]]]
        if ca < cb - 2e-9 or (abs(ca - cb) < 1e-12 and a[1] > b[1]):
            return f"semantic ranks {a[3]},{b[3]} not ordered by cosine"
    lex = [r for r in rows if r[2] is not None]
    if len({r[2] for r in lex}) != len(lex):
        return "repeated lexical rank"
    for r in lex:
        if not set(terms) & set(corpus.tokens[r[1]]):
            return f"lexical hit {r[1]} holds no query term"
    if full_probe:
        want = brute_force(corpus, qid, terms)
        got = [tuple(r[:4]) for r in rows]
        if got != want:
            bad = next(i for i, (a, b) in enumerate(zip(got + [None] * 20, want)) if a != b)
            return f"full probe differs from brute force at rank {bad + 1}"
    return None
