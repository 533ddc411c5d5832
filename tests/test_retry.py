"""A failed task is retried and the answer does not change.

A child Python process runs its own Spark at local[2,2] (two cores, two
attempts per task) with a 1g driver heap. A pass-through mapInArrow over
each input raises on the first attempt of partition 0, so every job that
computes that partition fails one task and retries it. knn_join and
minhash_lsh_pairs, whose intermediates go through session.materialize,
and decode_documents, whose Arrow batches go through a Python worker,
must return exactly the rows of an unfailed run. The child gets its own
process group, which is killed whatever happens, so no JVM or Python
worker outlives the test.
"""

import json
import os
import signal
import subprocess
import sys
from pathlib import Path

_CHILD = r'''
import json, os, sys
from pyspark import TaskContext
import pyspark.sql.functions as F
from dxf_postgis_converter_spark.session import get_spark
from dxf_postgis_converter_spark.corpus import generate_documents
from dxf_postgis_converter_spark.functions.decode import decode_documents
from dxf_postgis_converter_spark.operators.knn import knn_join
from dxf_postgis_converter_spark.operators.dedup import minhash_lsh_pairs

marks = sys.argv[1]

def flaky(tag):
    def run(batches):
        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            open(os.path.join(marks, f"{tag}-{tc.stageId()}-{tc.taskAttemptId()}"), "w").close()
            raise RuntimeError("injected task failure")
        yield from batches
    return run

def coord(seed):
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(8192)).cast("double")

spark = get_spark(app_name="retry", master="local[2,2]", shuffle_partitions=4)
try:
    probes = spark.range(0, 300, 1, 3).select(
        F.concat(F.lit("p"), F.col("id")).alias("probe_id"),
        coord(1).alias("x"), coord(2).alias("y"))
    targets = spark.range(0, 4000, 1, 4).select(
        F.concat(F.lit("t"), F.col("id")).alias("target_id"),
        coord(3).alias("x"), coord(4).alias("y"))
    words = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(120):
        toks = [words[(i * 7 + j * 3) % 60] for j in range(30)]
        rows.append((f"d{i:03d}", " ".join(toks)))
        if i % 4 == 0:  # a near-duplicate: one token changed
            rows.append((f"n{i:03d}", " ".join(toks[:-1] + ["zz"])))
    docs = spark.createDataFrame(rows, "doc_id string, text string").repartition(3)
    spans = generate_documents(spark, 24, num_partitions=3)

    def run(p, t, d, s):
        knn = knn_join(p, t, k=5, res=6).collect()
        mh = minhash_lsh_pairs(d, jaccard_threshold=0.5).collect()
        dec = decode_documents(s).collect()
        return (sorted(tuple(r) for r in knn), sorted(tuple(r) for r in mh),
                sorted(repr(tuple(r)) for r in dec))

    clean = run(probes, targets, docs, spans)
    failed = run(probes.mapInArrow(flaky("probes"), probes.schema),
                 targets.mapInArrow(flaky("targets"), targets.schema),
                 docs.mapInArrow(flaky("docs"), docs.schema),
                 spans.mapInArrow(flaky("spans"), spans.schema))
    tags = [m.split("-")[0] for m in os.listdir(marks)]
    print(json.dumps({
        "knn_rows": len(clean[0]), "minhash_rows": len(clean[1]),
        "decode_rows": len(clean[2]),
        "knn_same": clean[0] == failed[0], "minhash_same": clean[1] == failed[1],
        "decode_same": clean[2] == failed[2],
        "failures": {t: tags.count(t) for t in ("probes", "targets", "docs", "spans")}}))
finally:
    spark.stop()
'''


def test_retried_task_gives_identical_knn_and_minhash(tmp_path):
    marks = tmp_path / "marks"
    marks.mkdir()
    out = tmp_path / "out.txt"
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    with open(out, "w") as f:
        proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD, str(marks)],
            cwd=Path(__file__).resolve().parents[1], env=env,
            stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=90)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    log = out.read_text()
    assert proc.returncode == 0, log[-3000:]
    res = json.loads(next(line for line in reversed(log.splitlines())
                          if line.startswith('{"knn_rows"')))
    assert res["knn_rows"] == 300 * 5 and res["minhash_rows"] > 0, res
    assert res["decode_rows"] > 0, res
    assert res["knn_same"] and res["minhash_same"] and res["decode_same"], res
    assert all(n >= 1 for n in res["failures"].values()), res
