"""The benchmark's own tests: every output check accepts a right output
and rejects each kind of corrupted one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import checks
import gen

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def write_mr(out_dir, expected, n_reduce=10):
    """Write ``expected`` the way a right MapReduce run lays it out."""
    shards = {}
    for k, v in expected.items():
        shards.setdefault(checks.fnv1a32(k) % n_reduce, []).append((k, v))
    os.makedirs(out_dir, exist_ok=True)
    for p, kvs in shards.items():
        kvs.sort(key=lambda kv: kv[0].encode("utf-8"))
        with open(os.path.join(out_dir, f"mr-out-{p}"), "w", encoding="utf-8") as f:
            f.write("".join(f"{k} {v}\n" for k, v in kvs))


class Tmp(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)


class MapReduceChecks(Tmp):
    def setUp(self):
        super().setUp()
        paths, counts, docs = gen.corpus(5, os.path.join(self.tmp, "in"), n_files=3,
                                         tokens_per_file=400, vocab=300)
        self.wc = checks.wc_expected(counts)
        self.ix = checks.indexer_expected(docs)
        self.out = os.path.join(self.tmp, "out")

    def shard_lines(self, i=0):
        files = sorted(f for f in os.listdir(self.out) if f.startswith("mr-out-"))
        path = os.path.join(self.out, files[i])
        with open(path, encoding="utf-8") as f:
            return path, f.read().splitlines(keepends=True)

    def write(self, path, lines):
        with open(path, "w", encoding="utf-8") as f:
            f.write("".join(lines))

    def test_fnv1a_reference_vector(self):
        self.assertEqual(checks.fnv1a32("a"), 0xE40C292C & 0x7FFFFFFF)

    def test_right_outputs_pass(self):
        write_mr(self.out, self.wc)
        self.assertIsNone(checks.check_mr_output(self.out, self.wc))
        shutil.rmtree(self.out)
        write_mr(self.out, self.ix)
        self.assertIsNone(checks.check_mr_output(self.out, self.ix))

    def test_wrong_count(self):
        k = next(iter(self.wc))
        write_mr(self.out, dict(self.wc, **{k: str(int(self.wc[k]) + 1)}))
        self.assertIn("want", checks.check_mr_output(self.out, self.wc))

    def test_wrong_document_set(self):
        k = next(iter(self.ix))
        write_mr(self.out, dict(self.ix, **{k: "1 nowhere.txt"}))
        self.assertIn("want", checks.check_mr_output(self.out, self.ix))

    def test_missing_key(self):
        write_mr(self.out, dict(list(self.wc.items())[1:]))
        self.assertIn("missing", checks.check_mr_output(self.out, self.wc))

    def test_keys_out_of_order(self):
        write_mr(self.out, self.wc)
        path, lines = self.shard_lines()
        lines[0], lines[1] = lines[1], lines[0]
        self.write(path, lines)
        self.assertIn("out of order", checks.check_mr_output(self.out, self.wc))

    def test_key_in_wrong_shard(self):
        # the moved key sits in its byte-wise place in the other shard,
        # so only the shard rule can reject it
        write_mr(self.out, self.wc)
        path_a, lines_a = self.shard_lines(0)
        path_b, lines_b = self.shard_lines(1)
        moved = lines_a.pop(0)
        lines_b = sorted(lines_b + [moved], key=lambda l: l.split(" ")[0].encode("utf-8"))
        self.write(path_a, lines_a)
        self.write(path_b, lines_b)
        key = moved.split(" ")[0]
        self.assertEqual(checks.check_mr_output(self.out, self.wc),
                         f"{os.path.basename(path_b)}: key {key!r} in wrong shard")

    def test_duplicate_key(self):
        # a key repeated within its shard breaks the strict byte-wise
        # order; repeated in another shard, it is in the wrong shard
        write_mr(self.out, self.wc)
        path, lines = self.shard_lines()
        self.write(path, [lines[0]] + lines)
        key = lines[0].split(" ")[0]
        self.assertEqual(checks.check_mr_output(self.out, self.wc),
                         f"{os.path.basename(path)}: key {key!r} out of order")


class QueryChecks(Tmp):
    SQL = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty, "
           "CAST(sum(l_extendedprice) AS DECIMAL(18,2)) AS px "
           "FROM lineitem GROUP BY 1")

    def setUp(self):
        super().setUp()
        self.con = checks.oracle_connection(DATA)
        self.oracle = checks.canonical(self.con, self.SQL)
        self.out = os.path.join(self.tmp, "q")

    def result(self, sql):
        os.makedirs(self.out, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{self.out}/part-0.parquet' (FORMAT parquet)")
        return checks.check_query_output(self.con, self.out, self.oracle)

    def test_right_output_passes(self):
        self.assertIsNone(self.result(self.SQL))

    def test_wrong_value(self):
        self.assertIn("differ", self.result(
            self.SQL.replace("count(*) AS n", "count(*) + 1 AS n")))

    def test_missing_row(self):
        self.assertIn("rows", self.result(self.SQL + " HAVING l_returnflag <> 'A'"))

    def test_wrong_column_name(self):
        self.assertIn("columns", self.result(self.SQL.replace("AS qty", "AS quantity")))

    def test_wrong_column_type(self):
        self.assertIn("types", self.result(
            self.SQL.replace("CAST(sum(l_extendedprice) AS DECIMAL(18,2))",
                             "CAST(sum(l_extendedprice) AS DOUBLE)")))

    def test_no_output(self):
        self.assertEqual(checks.check_query_output(self.con, self.out, self.oracle),
                         "no result files")


class LookupChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pydict()
        emb = pq.read_table(os.path.join(DATA, "embeddings.parquet")).to_pydict()
        texts = docs["text"]
        texts[7] = "zebra zebra"        # a document that shares no common word
        cls.corpus = checks.Corpus(docs["doc_id"], texts, emb["vec_id"], emb["embedding"])
        cls.qid = 12
        cls.terms = checks.query_terms(texts[cls.qid])

    def right(self):
        rows = checks.brute_force(self.corpus, self.qid, self.terms)
        return [[rk, d, lex, sem,
                 checks.round9(sum(1.0 / (60 + x) for x in (lex, sem) if x is not None))]
                for rk, d, lex, sem in rows]

    def check(self, rows, full=True):
        return checks.check_lookup(self.corpus, self.qid, self.terms, rows, full)

    def test_right_output_passes(self):
        self.assertIsNone(self.check(self.right()))

    def test_too_many_rows(self):
        rows = self.right()
        rows += [[21, 399, None, 50, rows[-1][4]]]
        self.assertIn("rows", self.check(rows, full=False))

    def test_rank_gap(self):
        rows = self.right()
        rows[5][0] = 7
        self.assertIn("gaps", self.check(rows))

    def test_wrong_rrf(self):
        rows = self.right()
        rows[3][4] += 1e-6
        self.assertIn("rrf", self.check(rows))

    def test_wrong_order(self):
        rows = self.right()
        rows[0][1:], rows[1][1:] = rows[1][1:], rows[0][1:]
        self.assertIn("order", self.check(rows, full=False))

    def lone(self, rows, pred):
        """Rows matching ``pred`` whose rrf no other row shares, so a
        changed doc_id cannot break the (rrf, doc_id) order."""
        rrfs = [r[4] for r in rows]
        return [r for r in rows if pred(r) and rrfs.count(r[4]) == 1]

    def test_semantic_ranks_against_cosine(self):
        rows = self.right()
        a, b = self.lone(rows, lambda r: r[3] is not None)[:2]
        a[1], b[1] = b[1], a[1]
        self.assertIn("cosine", self.check(rows, full=False))

    def test_self_returned(self):
        rows = self.right()
        r = self.lone(rows, lambda r: r[3] is not None)[0]
        r[1] = self.qid
        self.assertEqual(self.check(rows, full=False), "the query's own vector was returned")

    def test_lexical_hit_without_terms(self):
        # the row moves to its (rrf desc, doc_id asc) place, so only the
        # lexical property is broken
        rows = self.right()
        next(r for r in rows if r[2] is not None and r[3] is None)[1] = 7
        rows.sort(key=lambda r: (-r[4], r[1]))
        for rk, r in enumerate(rows, 1):
            r[0] = rk
        self.assertEqual(self.check(rows, full=False), "lexical hit 7 holds no query term")

    def test_differs_from_brute_force(self):
        # one row short: every property holds, only brute force tells
        rows = self.right()[:-1]
        self.assertIsNone(self.check(rows, full=False))
        self.assertEqual(self.check(rows), "full probe differs from brute force at rank 20")


if __name__ == "__main__":
    unittest.main()
