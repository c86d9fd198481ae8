"""Cached gate artifacts of the entry module live only as long as the
interpreter that wrote them: a harness run leaves no scratch corpus behind."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import __spark_entry__ as m
from strucmotif_search_spark.session import get_spark
spark = get_spark("ivfpart-scratch", cores=1)
m._q_ivf_topk_part(spark, {sf_dir!r}).collect()
print(next(iter(m._IVF_PART_DIRS.values())))
"""


def test_ivf_part_corpus_removed_at_exit(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    rows = [(i, [float((i * 7 + j) % 5) + 0.5 for j in range(4)])
            for i in range(40)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(sf_dir / "embeddings.parquet"))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    env = dict(os.environ, TMPDIR=str(scratch), SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=ROOT, sf_dir=str(sf_dir))],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    written = proc.stdout.strip().splitlines()[-1]
    assert written.startswith(str(scratch))  # the gate did write a corpus
    assert glob.glob(str(scratch / "ssx_ivfpart_*")) == []
