"""The fan-out bypass, pinned as a fact: a query `Tables` fans out on the
single-file tables carries a REPARTITION_BY_NUM exchange there, and none on
the many-file lake.  Runs the harness, so it builds graft when needed."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import workloads  # noqa: E402

QUERY = "tx_zipf"     # on the fan-out allowlist; reads documents


class BypassTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        run.RUN = os.path.join(run.WORK, "test-run")
        run.build()
        run.ensure_data()

    def fanout(self, plan):
        res = run.run_plan(workloads.warm_up() + plan, 0, 1)
        return [(op["kind"], p.get("exchanges.fanout", 0))
                for op, p in zip(res["ops"], res["layers"]["per_op"])]

    def test_single_file_fans_out(self):
        (kind, fanout), = self.fanout([("op", "query", QUERY)])
        self.assertGreaterEqual(fanout, 1)

    def test_many_files_bypass(self):
        # lineitem too: the traced run's probes read it.
        got = self.fanout([("op", "write", "lineitem", "linear", "l_orderkey", "16"),
                           ("op", "write", "documents", "linear", "doc_id", "16"),
                           ("op", "query", QUERY)])
        self.assertEqual(got[2], ("query", 0))


if __name__ == "__main__":
    unittest.main()
