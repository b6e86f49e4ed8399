"""The contract's snapshot queries leave no tables behind.

``contract.queries._scratch_table`` builds each snapshot query's table under
the temp dir, keyed by the Spark application id. The root must stay on disk
while the process can still read the query's lazy frame, and be gone once
the interpreter exits. Subprocess-isolated: the check is the exit itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the seeded test tables sit beside the checkout (TESTDATA.md)
SF_DIR = os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")

SCRIPT = """
import glob, json, os, sys, tempfile
from geospatial_cuda_spark.contract import queries as Q
from geospatial_cuda_spark.session import get_spark

spark = get_spark("scratch-table", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
df = Q.q_snapshot_incremental(spark, sys.argv[1])
rows = df.count()  # the lazy frame still reads its table
roots = glob.glob(os.path.join(tempfile.gettempdir(), "geospark_incr", "*"))
print(json.dumps({"rows": rows, "roots": roots,
                  "exist": [os.path.isdir(r) for r in roots]}))
"""


def test_scratch_tables_removed_at_exit(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp))
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, SF_DIR], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["rows"] > 0
    assert len(out["roots"]) == 1
    root = out["roots"][0]
    assert root.startswith(str(tmp) + os.sep)
    assert out["exist"] == [True]  # readable until the interpreter exits
    assert not os.path.exists(root)  # removed at exit
