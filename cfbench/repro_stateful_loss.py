"""Reproducer: the per-metric stateful stream loses earlier windows.

    python3 cfbench/repro_stateful_loss.py

`main.py --stream --stream-per-metric` runs `run_streaming_pipeline`, whose
sink (`_window_overwrite_writer` in cflog2otel_spark/streaming/stream.py)
dynamically overwrites a whole `w_date` partition with only the windows that
the current update-mode micro-batch touched. A second drain on the same
checkpoint therefore deletes the windows that the first drain wrote for the
same date.

The script lands one log object, drains, lands a second object whose
minutes do not overlap the first, drains again, and compares the sink with
the DuckDB oracle over both objects. It exits 1 while windows are lost and
0 once the sink holds every window.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import inputs  # noqa: E402
import oracle  # noqa: E402
from metric_configs import FLAGSHIP  # noqa: E402

ROWS = 2_000
# (start offset, span) in seconds: the same date, minutes that do not overlap
OBJECTS = [(0, 300), (1200, 300)]


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from cflog2otel_spark.config import Config
    from cflog2otel_spark.session import get_spark
    from cflog2otel_spark.streaming.stream import run_streaming_pipeline

    work = os.path.join(ROOT, ".bench_work", f"repro-{os.getpid()}")
    in_dir, out_dir, ck_dir = (os.path.join(work, d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    spark = get_spark()
    try:
        cfg = Config.from_json(FLAGSHIP)
        tsvs = []
        for k, (start, span) in enumerate(OBJECTS):
            lines, sources = inputs.make_lines(7, ROWS, inputs.BASE_EPOCH + start, span, k)
            path = os.path.join(work, f"obj{k}")
            inputs.write_input(path, lines, sources, f"repro-{k}")
            os.rename(path + ".parquet", os.path.join(in_dir, f"part-{k}.parquet"))
            tsvs.append(path + ".tsv.gz")
            for q in run_streaming_pipeline(spark, cfg, in_dir, out_dir, ck_dir,
                                            trigger_once=True):
                q.awaitTermination()
        con = oracle.connect(tsvs)
        want = oracle.expected_points(con, FLAGSHIP)
        con.close()
        got, _ = oracle.sink_points(out_dir, deltas=False)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    problems = oracle.diff(want, got, "per-metric stateful sink")
    for p in problems:
        print(p)
    if problems:
        print(f"DEFECT: {sum(1 for k in want if k not in got)} of {len(want)} "
              "data points lost after the second drain")
        return 1
    print(f"ok: all {len(want)} data points present after two drains")
    return 0


if __name__ == "__main__":
    sys.exit(main())
