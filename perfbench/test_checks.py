"""Shows that the output checks flag a wrong result.

    python3 perfbench/test_checks.py

Each check passes on a correct result and fails once one value of it is
corrupted. run.py counts every execution of a query whose output fails
its check as a failed operation.
"""
import unittest

import duckdb
import pandas as pd

import checks


def perturb(q, df):
    """Corrupts one value of a result, the way a wrong answer would look."""
    df = df.copy()
    if q == "q118_kcore":
        df.loc[df.index[0], "core"] = df["core"].max() + 1
    elif q == "q281_hits_bipartite":
        df.loc[df.index[0], "score"] = 1.5
    else:
        num = [c for c in sorted(df.columns) if df[c].dtype.kind in "if"]
        if num and len(df):
            df.loc[df.index[0], num[0]] = df[num[0]].iloc[0] + 1
        else:
            df = df.iloc[1:]
    return df


class OracleCompare(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertEqual(checks.oracle_verdict(a, b), "OK")

    def test_perturbed_value_is_flagged(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        bad = perturb("q01", a)
        self.assertTrue(checks.oracle_verdict(bad, a).startswith("WRONG"))

    def test_missing_row_and_renamed_column_are_flagged(self):
        a = pd.DataFrame({"k": [1, 2], "w": ["x", "y"]})
        self.assertTrue(checks.oracle_verdict(perturb("q01", a), a).startswith("WRONG"))
        self.assertTrue(checks.oracle_verdict(a.rename(columns={"w": "z"}), a).startswith("WRONG"))


class Properties(unittest.TestCase):
    def test_hits(self):
        df = pd.DataFrame({"role": ["authority", "authority", "hub", "hub"],
                           "node_id": [1, 2, 3, 4], "score": [0.8, 0.6, 0.7, 0.7]})
        self.assertEqual(checks.hits_verdict(df, None, {}), "OK")
        bad = perturb("q281_hits_bipartite", df)
        self.assertTrue(checks.hits_verdict(bad, None, {}).startswith("WRONG"))
        twice = df.assign(node_id=[1, 1, 3, 4])
        self.assertTrue(checks.hits_verdict(twice, None, {}).startswith("WRONG"))

    def test_kcore(self):
        # a triangle (core 2) with a pendant vertex (core 1)
        edges = pd.DataFrame({"src": ["a", "a", "b", "c"], "dst": ["b", "c", "c", "d"],
                              "weight": [1, 1, 1, 1]})
        df = pd.DataFrame({"entity_id": ["a", "b", "c", "d"], "core": [2, 2, 2, 1]})
        self.assertEqual(checks.kcore_verdict(df, None, {"edges": edges}), "OK")
        bad = df.assign(core=[2, 2, 2, 2])
        self.assertTrue(checks.kcore_verdict(bad, None, {"edges": edges}).startswith("WRONG"))
        bad = perturb("q118_kcore", df)
        self.assertTrue(checks.kcore_verdict(bad, None, {"edges": edges}).startswith("WRONG"))

    def test_lsh_pairs(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.execute("INSERT INTO documents VALUES "
                    "(1, 'the quick brown fox jumps over the lazy dog'), "
                    "(2, 'the quick brown fox jumps over the lazy cat'), "
                    "(3, 'an entirely different sentence about other things')")
        ok = pd.DataFrame({"doc_a": [1], "doc_b": [2], "est_jaccard": [0.75]})
        self.assertEqual(checks.lsh_pair_verdict(ok, con, {}), "OK")
        unrelated = pd.DataFrame({"doc_a": [1], "doc_b": [3], "est_jaccard": [0.75]})
        self.assertTrue(checks.lsh_pair_verdict(unrelated, con, {}).startswith("WRONG"))
        swapped = pd.DataFrame({"doc_a": [2], "doc_b": [1], "est_jaccard": [0.75]})
        self.assertTrue(checks.lsh_pair_verdict(swapped, con, {}).startswith("WRONG"))


if __name__ == "__main__":
    unittest.main()
