#!/usr/bin/env python3
"""Self-checks of the benchmark: each output check must fire.

    python3 perfbench/test_perfbench.py

- a convert output checked against a wrong expected row count, and a
  convert output with one file's footer stamp removed, are each reported
  as a failed operation (graft.perfbench.SelfTest, one small convert);
- a query result with one wrong row fails the DuckDB oracle compare
  (scripts/check_oracle.py, as run.py calls it), and the right result
  passes it;
- the same seed gives byte-identical tables.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

WORK = build.ROOT / '.perfbench' / 'test'


class ConvertChecks(unittest.TestCase):
    def test_wrong_row_count_and_missing_stamp_fail(self):
        build.build()
        work = WORK / 'selftest'
        cmd = (['java', '-XX:-UsePerfData', '-Xmx2g', f'-Djava.io.tmpdir={work / "tmp"}']
               + [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in run.ADD_OPENS]
               + ['-cp', build.classpath(), 'graft.perfbench.SelfTest', str(work)])
        out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
        failed = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(failed, {'good_output': False, 'wrong_row_count': True,
                                  'stamp_removed': True})


class OracleCompare(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORK / 'oracle', ignore_errors=True)
        self.tables = WORK / 'oracle' / 'tables'
        self.check = WORK / 'oracle' / 'check'
        tables.generate(0.001, 7, self.tables)
        (self.check / 'q').mkdir(parents=True)
        (self.check / 'oracle_sql.json').write_text(json.dumps(
            {'q': 'SELECT r_regionkey, r_name FROM region'}))

    def write_result(self, names):
        pq.write_table(pa.table({'r_regionkey': pa.array(range(5), pa.int32()),
                                 'r_name': names}), self.check / 'q' / 'part-0.parquet')

    def test_right_result_passes(self):
        self.write_result(tables.REGIONS)
        self.assertEqual(run.check_oracle(self.tables, self.check), ([], 1))

    def test_wrong_row_fails(self):
        self.write_result(tables.REGIONS[:4] + ['ATLANTIS'])
        bad, n = run.check_oracle(self.tables, self.check)
        self.assertEqual(n, 1)
        self.assertEqual([name for name, _ in bad], ['q'])


class Inputs(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = WORK / 'seed_a', WORK / 'seed_b'
        for d in (a, b):
            shutil.rmtree(d, ignore_errors=True)
            tables.generate(0.001, 3, d)
        for f in sorted(a.iterdir()):
            self.assertTrue(pq.read_table(f).equals(pq.read_table(b / f.name)), f.name)


if __name__ == '__main__':
    unittest.main()
