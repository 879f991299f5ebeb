import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class Determinism(unittest.TestCase):
    def test_same_seed_same_tables(self):
        for make in (lambda s: gen.orders_customer(s, 2000, 300),
                     lambda s: (gen.lineitem(s, 500),),
                     lambda s: (gen.embeddings(s, 100, 8),),
                     lambda s: (gen.documents(s, 300, 0.1, 0.25)[0],)):
            a, b, c = make(7), make(7), make(8)
            self.assertTrue(all(x.equals(y) for x, y in zip(a, b)))
            self.assertFalse(all(x.equals(z) for x, z in zip(a, c)))

    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as d:
            runs = []
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                out = os.path.join(d, name)
                gen.event_stream(seed, out, 6)
                orders, customer = gen.orders_customer(seed, 3000, 200)
                readm, hosp = gen.hospital_csvs(orders, customer)
                gen._write_csv_parts(readm, os.path.join(out, "readmissions"), 2)
                runs.append(out)

            def same(x, y):
                cmp = filecmp.dircmp(x, y)
                files = [os.path.relpath(os.path.join(r, f), x)
                         for r, _, fs in os.walk(x) for f in fs]
                match, mismatch, errors = filecmp.cmpfiles(x, y, files, shallow=False)
                return not mismatch and not errors and not cmp.left_only and not cmp.right_only

            self.assertTrue(same(runs[0], runs[1]))
            self.assertFalse(same(runs[0], runs[2]))


class Shapes(unittest.TestCase):
    def test_duplicate_shares_are_as_stated(self):
        table, m = gen.documents(1, 1000, 0.10, 0.25)
        self.assertEqual(table.num_rows, m["docs"])
        self.assertAlmostEqual(m["exact_share"], 0.10, places=2)
        self.assertAlmostEqual(m["near_share"], 0.25, places=2)
        texts = table["text"].to_pylist()
        self.assertGreaterEqual(len(texts) - len(set(texts)), m["exact_dup_docs"] // 2)

    def test_corpus_is_edited_sf01_documents(self):
        _, sf_words, _ = gen.sf01_documents()
        self.assertEqual(len(sf_words), 5000)
        sf_texts = {" ".join(w) for w in sf_words}
        vocab = {w for ws in sf_words for w in ws}
        table, m = gen.documents(2, 400, 0.10, 0.25)
        texts = table["text"].to_pylist()
        self.assertTrue(all(set(t.split()) <= vocab for t in texts))
        verbatim = sum(t in sf_texts for t in texts)
        self.assertGreaterEqual(verbatim, m["base_docs"])
        self.assertLess(verbatim, m["docs"] - m["near_dup_docs"] // 2)

    def test_event_duplicates_are_full_row_copies(self):
        files, sentinel = gen.event_files(2, 4)
        rows = [r for t in files for r in zip(*(t[c].to_pylist() for c in t.column_names))]
        by_id = {}
        for r in rows:
            self.assertEqual(by_id.setdefault(r[0], r), r)
        per = gen.STREAM_SIZES["events_per_file"]
        self.assertEqual(len(rows), 4 * per)
        self.assertEqual(len(by_id), 4 * (per - round(per * gen.STREAM_SIZES["dup_share"])))
        self.assertGreater(sentinel["ts"][0].as_py(), max(r[1] for r in rows))

    def test_csv_analog_injections(self):
        orders, customer = gen.orders_customer(5, 770, 50)
        readm, hosp = gen.hospital_csvs(orders, customer)
        keys = orders["o_orderkey"].to_pylist()
        dis = readm["Number of Discharges"].to_pylist()
        ratio = readm["Excess Readmission Ratio"].to_pylist()
        self.assertTrue(all((d == "N/A") == (k % 7 == 0) for k, d in zip(keys, dis)))
        self.assertTrue(all((r == "Too Few to Report") == (k % 11 == 0) for k, r in zip(keys, ratio)))
        self.assertTrue(all(len(f) == 6 for f in readm["Facility ID"].to_pylist()))
        states = hosp["State"].to_pylist()
        self.assertTrue(all((s is None) == (k % 13 == 0)
                            for k, s in zip(customer["c_custkey"].to_pylist(), states)))


if __name__ == "__main__":
    unittest.main()
