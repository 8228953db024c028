"""Generator determinism and the oracle bookkeeping's own invariants.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def etl_tree(seed, n=6):
    d = tempfile.mkdtemp()
    g = gen.EtlGenerator(seed)
    gen.write_etl_days(d, [g.day() for _ in range(n)])
    return d


class DeterminismTest(unittest.TestCase):
    def test_etl_same_seed_same_bytes(self):
        self.assertEqual(gen.digest_tree(etl_tree(5)), gen.digest_tree(etl_tree(5)))
        self.assertNotEqual(gen.digest_tree(etl_tree(5)),
                            gen.digest_tree(etl_tree(6)))

    def test_lake_build_same_seed_same_bytes(self):
        def tree(seed):
            d = tempfile.mkdtemp()
            gen.LakeBuild(seed).write(d)
            return gen.digest_tree(d)
        self.assertEqual(tree(3), tree(3))
        self.assertNotEqual(tree(3), tree(4))

    def test_cdc_same_seed_same_files(self):
        def files(seed):
            g = gen.CdcGenerator(seed)
            return [g.file() for _ in range(6)]
        self.assertEqual(files(2), files(2))
        self.assertNotEqual(files(2), files(3))

    def test_corpus_same_seed_same_bytes(self):
        def tree(seed):
            d = tempfile.mkdtemp()
            gen.write_corpus(d, seed, n_docs=120)
            return gen.digest_tree(d)
        self.assertEqual(tree(1), tree(1))
        self.assertNotEqual(tree(1), tree(2))

    def test_lake_read_cycles_hold_every_kind(self):
        ids = [str(i) for i in range(100)]
        ops = gen.lake_read_ops(3, 4, 11, ids)
        n = len(gen.LAKE_READ_KINDS)
        for c in range(4):
            self.assertEqual(sorted(o["kind"] for o in ops[c * n:(c + 1) * n]),
                             sorted(gen.LAKE_READ_KINDS))

    def test_lake_read_ops_are_seeded(self):
        ids = [str(i) for i in range(100)]
        self.assertEqual(gen.lake_read_ops(1, 50, 11, ids),
                         gen.lake_read_ops(1, 50, 11, ids))
        self.assertNotEqual(gen.lake_read_ops(1, 50, 11, ids),
                            gen.lake_read_ops(2, 50, 11, ids))


class EtlBookkeepingTest(unittest.TestCase):
    def test_counts_match_the_files(self):
        g = gen.EtlGenerator(9)
        for _ in range(8):
            d = g.day()
            for ds, (valid, rejected) in d.counts.items():
                lines = d.files[ds][1].count("\n") - 1
                # each file also holds exact duplicates, and order_items
                # holds foreign-key orphans; neither is valid nor rejected
                extra = {"products": 1, "orders": 2,
                         "order_items": 1 + d.orphans}[ds]
                self.assertEqual(lines, valid + rejected + extra, ds)

    def test_relanded_files_name_an_earlier_day(self):
        g = gen.EtlGenerator(4)
        days = [g.day() for _ in range(12)]
        ops = gen.etl_file_ops(days)
        seen = set()
        relands = 0
        for _, ds, name, reland in ops:
            if reland:
                relands += 1
                self.assertIn(name, seen)
            seen.add(name)
        self.assertGreaterEqual(relands, 1)

    def test_replay_ignores_relanded_files(self):
        g = gen.EtlGenerator(4)
        ops = gen.etl_file_ops([g.day() for _ in range(12)])
        with_relands, _ = gen.etl_replay(ops)
        without, _ = gen.etl_replay([o for o in ops if not o[3]])
        self.assertEqual(with_relands, without)


class LakeBookkeepingTest(unittest.TestCase):
    """The lake_reads expectations agree with the files the build writes."""

    @classmethod
    def setUpClass(cls):
        import pyarrow.parquet as pq
        cls.build = gen.LakeBuild(11)
        commits = cls.build.write(tempfile.mkdtemp())
        cls.orders = [r for t, p in commits if t == "orders"
                      for r in pq.read_table(p).to_pylist()]
        cls.item_products = pq.read_table(
            dict(commits)["order_items"], columns=["product_id"]).column(0)

    def test_scale_matches_the_published_query(self):
        # the reference's top product has about 19,400 orders
        top = self.build.top5()
        self.assertTrue(15_000 <= top[0][1] <= 25_000, top)
        self.assertEqual(len(self.item_products), self.build.n_items)

    def test_top5_counts_the_written_items(self):
        import pyarrow.compute as pc
        counts = {f"product-{v['values']}": v["counts"] for v in
                  pc.value_counts(self.item_products).to_pylist()}
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        self.assertEqual(self.build.top5(), [[n, c] for n, c in want])

    def test_amount_aggregates_and_rows_match_the_written_orders(self):
        by_day = {}
        for r in self.orders:
            by_day.setdefault(r["date"], []).append(r)
        days = sorted(by_day)
        rows = [r for d in days[2:5] for r in by_day[d]]
        self.assertEqual(self.build.amount_agg(2, 4),
                         [len(rows), round(sum(r["total_amount"]
                                               for r in rows), 2)])
        r = self.orders[12345]
        self.assertEqual(self.build.order_row(r["order_id"]),
                         [r["order_id"], r["user_id"], r["total_amount"]])


class CdcReplayTest(unittest.TestCase):
    def test_late_events_never_win(self):
        g = gen.CdcGenerator(7)
        for _ in range(12):
            g.file()
        for k, (seq, user, amount, date) in g.live.items():
            self.assertEqual(seq % 10, 0, "a late (seq - 5) event was applied")
            self.assertNotEqual(user, "ghost", "a pre-delete straggler won")

    def test_deleted_keys_stay_deleted_unless_reinserted(self):
        g = gen.CdcGenerator(8)
        for _ in range(12):
            g.file()
        for k, (dseq, _) in g.dead.items():
            if k in g.live:
                self.assertGreater(g.live[k][0], dseq)


if __name__ == "__main__":
    unittest.main()
