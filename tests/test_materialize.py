"""One materialization per batch run, and the encoders that read it.

Every input here comes from the deterministic generator
(`sources/generator.py`), so these tests need no reference checkout:

  - each config under configs/ (plus typed-attribute, no_min_max and
    cumulative ones): every data point both encoders emit equals its sink
    row from a plain collect() of the lazy plan;
  - sub-second windows get exact integer nanosecond bounds;
  - the manifest -> sinks -> encode chain scans the parsed projection once
    per metric (plus the per-source lineage pass);
  - expressions are analysed once per run;
  - a crash between the sink writes and the end of the run never marks a
    source done, so `--resume` rewrites complete sinks.
"""

import glob
import json
import os
import subprocess
import sys
from datetime import datetime, timezone

import pytest

from cflog2otel_spark.config import Config
from cflog2otel_spark.golden import encode_golden, encode_otlp
from cflog2otel_spark.pipeline import run_pipeline, sink_dirname
from cflog2otel_spark.sources.generator import generate_tokenized

from .conftest import CONFIGS, REPO

RESOURCE = [
    {"key": "service.name", "value": "Amazon CloudFront"},
    {"key": "aws.cloudfront.distribution_id", "value": {"expr": "cloudfront.distributionId"}},
]
EXTRA_CONFIGS = {
    # INT64 / FLOAT64 / BOOL attributes, and a nullable one that leaves some
    # points with a smaller (sometimes empty) attribute set
    "typed_attributes": {
        "resource_attributes": RESOURCE,
        "scope": {"name": "typed", "version": "2.0", "schema_url": "https://example.com/s"},
        "metrics": [
            {
                "name": "typed",
                "type": "Count",
                "attributes": [
                    {"key": "status", "value": {"expr": "log.scStatus"}},
                    {"key": "taken", "value": {"expr": "log.timeTaken"}},
                    {"key": "error", "value": {"expr": "log.scStatus >= 400"}},
                    {"key": "referer", "value": {"expr": "log.csReferer"}},
                ],
            },
            {
                "name": "whole_double",
                "type": "Sum",
                "interval": "5m",
                "value": {"expr": "log.timeTaken"},
                "attributes": [{"key": "status", "value": {"expr": "double(log.scStatus)"}}],
            },
        ],
    },
    "histogram_no_min_max_cumulative": {
        "resource_attributes": RESOURCE,
        "metrics": [
            {
                "name": "latency",
                "type": "Histogram",
                "unit": "ms",
                "value": {"expr": "log.timeTaken * 1000.0"},
                "boundaries": [0.5, 1, 2.5, 100],
                "no_min_max": True,
                "is_cumulative": True,
                "attributes": [{"key": "method", "value": {"expr": "log.csMethod"}}],
            },
            {
                "name": "bytes",
                "type": "Sum",
                "is_cumulative": True,
                "is_monotonic": True,
                "value": {"expr": "double(log.scBytes)"},
            },
        ],
    },
}
CONFIG_IDS = sorted(
    [os.path.basename(p)[: -len(".json")] for p in glob.glob(f"{CONFIGS}/*.json")]
) + sorted(EXTRA_CONFIGS)
_ONEOF = {"STRING": "StringValue", "BOOL": "BoolValue", "INT64": "IntValue", "FLOAT64": "DoubleValue"}


def _config(name: str) -> Config:
    if name in EXTRA_CONFIGS:
        return Config.from_json(EXTRA_CONFIGS[name])
    return Config.load(f"{CONFIGS}/{name}.json")


@pytest.fixture(scope="module")
def generated(spark):
    df = generate_tokenized(spark, 3000, seed=11, rows_per_file=500).cache()
    df.count()
    yield df
    df.unpersist()


def _norm(x):
    return int(x) if isinstance(x, float) and x.is_integer() else x


def _typed_value(p):
    """Sink attribute struct -> typed JSON value, from its own value_type."""
    v, t = p["value"], p["value_type"]
    return _norm({"INT64": int, "FLOAT64": float, "BOOL": lambda s: s == "true"}.get(t, str)(v))


def _nanos(dt: datetime) -> int:
    # collect() renders the UTC instant as a naive local datetime
    return int(dt.replace(microsecond=0).timestamp()) * 10**9 + dt.microsecond * 1000


def _rfc3339(ns: int) -> str:
    return datetime.fromtimestamp(ns // 10**9, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _expected(cfg: Config, sinks) -> dict:
    """(metric, resource, start ns, attrs) -> point fields, from collect()."""
    out = {}
    for m in cfg.metrics:
        for r in sinks[m.name].collect():
            key = (
                m.name,
                tuple((p["key"], p["value_type"], _typed_value(p)) for p in r["resource_attrs"]),
                _nanos(r["window_start"]),
                tuple((p["key"], p["value_type"], _typed_value(p)) for p in r["attrs"]),
            )
            fields = {"end": _nanos(r["window_end"])}
            if m.type == "Histogram":
                fields.update(
                    count=r["count"],
                    sum=_norm(r["sum"]),
                    bounds=[_norm(b) for b in r["bounds"]],
                    bucket_counts=r["bucket_counts"],
                )
                if not m.no_min_max:
                    fields.update(min=_norm(r["min"]), max=_norm(r["max"]))
            else:
                fields["value"] = _norm(r["value"])
            assert key not in out, f"duplicate sink row {key}"
            out[key] = fields
    return out


def _otlp_points(cfg: Config, reqs: list[dict]) -> dict:
    otype = {v: k for k, v in _ONEOF.items()}
    metrics = {m.name: m for m in cfg.metrics}
    out = {}
    for req in reqs:
        (rm,) = req["resource_metrics"]
        res = tuple(
            (a["key"], otype[k], v)
            for a in rm["resource"]["attributes"]
            for k, v in a["value"]["Value"].items()
        )
        (sm,) = rm["scope_metrics"]
        scope = {k: v for k, v in (("name", cfg.scope.name), ("version", cfg.scope.version)) if v}
        assert sm["scope"] == scope
        assert sm.get("schema_url") == (cfg.scope.schema_url or None)
        for metric in sm["metrics"]:
            m = metrics[metric["name"]]
            assert metric.get("description") == (m.description or None)
            assert metric.get("unit") == (m.unit or None)
            kind = "Histogram" if m.type == "Histogram" else "Sum"
            data = metric["Data"][kind]
            assert data["aggregation_temporality"] == (2 if m.is_cumulative else 1)
            if m.type != "Histogram":
                assert data["is_monotonic"] is (m.type == "Count" or m.is_monotonic)
            starts = [dp["start_time_unix_nano"] for dp in data["data_points"]]
            assert starts == sorted(starts)
            for dp in data["data_points"]:
                attrs = tuple(
                    (a["key"], otype[k], v)
                    for a in dp.get("attributes", [])
                    for k, v in a["value"]["Value"].items()
                )
                if "attributes" in dp:
                    assert attrs, "an empty attribute set is omitted, not []"
                fields = {"end": dp["time_unix_nano"]}
                if m.type == "Histogram":
                    fields.update(
                        count=dp["count"],
                        sum=dp["sum"],
                        bounds=dp["explicit_bounds"],
                        bucket_counts=dp["bucket_counts"],
                    )
                    if not m.no_min_max:
                        fields.update(min=dp["min"], max=dp["max"])
                    else:
                        assert "min" not in dp and "max" not in dp
                else:
                    (fields["value"],) = dp["Value"].values()
                key = (m.name, res, dp["start_time_unix_nano"], attrs)
                assert key not in out, f"point {key} encoded twice"
                out[key] = fields
    return out


def _golden_points(cfg: Config, trees: list[dict]) -> dict:
    metrics = {m.name: m for m in cfg.metrics}
    scope = {"Name": cfg.scope.name, "Version": cfg.scope.version, "SchemaURL": cfg.scope.schema_url}
    out = {}
    for tree in trees:
        res = tuple((a["Key"], a["Value"]["Type"], a["Value"]["Value"]) for a in tree["Resource"])
        (sm,) = tree["ScopeMetrics"]
        assert sm["Scope"] == scope
        for metric in sm["Metrics"]:
            m = metrics[metric["Name"]]
            assert (metric["Description"], metric["Unit"]) == (m.description, m.unit)
            data = metric["Data"]
            assert data["Temporality"] == m.temporality
            if m.type != "Histogram":
                assert data["IsMonotonic"] is (m.type == "Count" or m.is_monotonic)
            for dp in data["DataPoints"]:
                attrs = tuple(
                    (a["Key"], a["Value"]["Type"], a["Value"]["Value"]) for a in dp["Attributes"]
                )
                fields = {"end": dp["Time"]}
                if m.type == "Histogram":
                    fields.update(
                        count=dp["Count"],
                        sum=dp["Sum"],
                        bounds=dp["Bounds"],
                        bucket_counts=dp["BucketCounts"],
                    )
                    if not m.no_min_max:
                        fields.update(min=dp["Min"], max=dp["Max"])
                else:
                    fields["value"] = dp["Value"]
                out[(m.name, res, dp["StartTime"], attrs)] = fields
    return out


@pytest.mark.parametrize("name", CONFIG_IDS)
def test_encoders_match_sink_rows(spark, generated, name):
    cfg = _config(name)
    res = run_pipeline(spark, cfg, generated)
    try:
        want = _expected(cfg, res.sinks)
        got = _otlp_points(cfg, encode_otlp(res, cfg))
        assert got == want
        golden = _golden_points(cfg, encode_golden(res, cfg))
        assert golden == {
            (k[0], k[1], _rfc3339(k[2]), k[3]): {**v, "end": _rfc3339(v["end"])}
            for k, v in want.items()
        }
        assert res.point_rows == {m.name: sum(1 for k in want if k[0] == m.name) for m in cfg.metrics}
    finally:
        res.unpersist()
    if name in EXTRA_CONFIGS:
        # the cases these configs exist for actually occur in the input
        types = {t for k in want for _, t, _ in k[3]}
        empty = sum(1 for k in want if not k[3])
        if name == "typed_attributes":
            assert {"INT64", "FLOAT64", "BOOL", "STRING"} <= types
            assert empty == 0 and any(len(k[3]) == 3 for k in want)
        else:
            assert empty > 0


def test_subsecond_window_bounds_are_exact(spark, generated):
    cfg = Config.from_json(
        {
            "resource_attributes": RESOURCE,
            "metrics": [{"name": "fast", "type": "Count", "interval": "250ms"}],
        }
    )
    res = run_pipeline(spark, cfg, generated)
    try:
        reqs = encode_otlp(res, cfg)
        rows = res.sinks["fast"].collect()
    finally:
        res.unpersist()
    dps = [
        dp
        for req in reqs
        for dp in req["resource_metrics"][0]["scope_metrics"][0]["metrics"][0]["Data"]["Sum"][
            "data_points"
        ]
    ]
    assert len(dps) == len(rows) > 0
    assert sorted((_nanos(r["window_start"]), _nanos(r["window_end"])) for r in rows) == sorted(
        (dp["start_time_unix_nano"], dp["time_unix_nano"]) for dp in dps
    )
    for dp in dps:
        assert dp["start_time_unix_nano"] % 250_000_000 == 0
        assert dp["time_unix_nano"] - dp["start_time_unix_nano"] == 250_000_000
    # a float round trip of these bounds is off in the low digits
    assert any(dp["time_unix_nano"] % 10**9 for dp in dps)


def test_chain_aggregates_each_metric_once(spark, generated, tmp_path):
    """manifest -> sinks -> encode: the stages that read the parsed
    projection are one per metric plus the per-source lineage pass; every
    other consumer reads the materialized points. The projection is left
    uncached, so every pass over it is one executed stage, made
    recognisable by the input's 7 partitions."""
    from cflog2otel_spark.lineage import write_run_manifest
    from cflog2otel_spark.pipeline import write_sinks

    cfg = Config.from_json(EXTRA_CONFIGS["typed_attributes"])
    cfg.metrics += _config("request_time_histogram").metrics
    sc = spark.sparkContext
    group = "materialize-once"
    res = run_pipeline(spark, cfg, generated.repartition(7), cache="none")
    sc.setJobGroup(group, "manifest, sinks and encoders over one materialization")
    try:
        write_run_manifest(spark, res, str(tmp_path / "manifest"))
        write_sinks(res, str(tmp_path / "sinks"))
        encode_otlp(res, cfg)
        encode_golden(res, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        res.unpersist()
    st = sc.statusTracker()
    stages = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    scans = [
        s
        for s in stages
        if (info := st.getStageInfo(s)) is not None
        and info.numTasks == 7
        and info.numCompletedTasks == 7
    ]
    assert len(cfg.metrics) == 3
    assert len(scans) == len(cfg.metrics) + 1


def test_expressions_analysed_once_per_run(spark, generated, monkeypatch):
    from cflog2otel_spark import celtrans
    from cflog2otel_spark.operators import aggregate

    calls = {"validate": 0, "types": 0}

    def counting(name, fn):
        def wrapped(*a, **k):
            calls[name] += 1
            return fn(*a, **k)

        return wrapped

    monkeypatch.setattr(
        celtrans, "validate_against_schema", counting("validate", celtrans.validate_against_schema)
    )
    monkeypatch.setattr(aggregate, "attribute_types", counting("types", aggregate.attribute_types))
    cfg = _config("multi_metrics")
    cfg.validate_expressions(spark)
    res = run_pipeline(spark, cfg, generated)
    try:
        encode_otlp(res, cfg)
        encode_golden(res, cfg)
        run_pipeline(spark, cfg, generated).unpersist()
    finally:
        res.unpersist()
    # one validation for the session; one typing per run_pipeline call
    assert calls == {"validate": 1, "types": 2}


_FAIL_FIRST_SINK_WRITE = """
import itertools, sys
from pyspark.sql.readwriter import DataFrameWriter

calls = itertools.count()
save = DataFrameWriter.save

def failing_save(self, *args, **kwargs):
    if next(calls) == 0:
        raise RuntimeError("injected: first sink write fails")
    return save(self, *args, **kwargs)

DataFrameWriter.save = failing_save
sys.path.insert(0, sys.argv[1])
import main
sys.exit(main.main(sys.argv[2:]))
"""


def test_resume_after_failed_sink_write_leaves_complete_sinks(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    generate_tokenized(spark, 2000, seed=5, rows_per_file=400).write.parquet(corpus)
    cfg_path = f"{CONFIGS}/multi_metrics.json"
    out, ckpt = str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    args = ["--config", cfg_path, "--input", corpus, "--out", out,
            "--checkpoint-dir", ckpt, "--master", "local[2]"]
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "2g"}

    def run(*cmd):
        return subprocess.run(
            [sys.executable, *cmd], cwd=REPO, capture_output=True, text=True,
            timeout=420, env=env,
        )

    crashed = run("-c", _FAIL_FIRST_SINK_WRITE, REPO, *args)
    assert crashed.returncode != 0
    assert "injected: first sink write fails" in crashed.stderr
    # nothing was published, so no source counts as done
    published = os.listdir(ckpt) if os.path.isdir(ckpt) else []
    assert not [n for n in published if n.endswith(".json")]

    resumed = run("main.py", *args, "--resume")
    assert resumed.returncode == 0, resumed.stderr[-2000:]

    cfg = Config.load(cfg_path)
    want = run_pipeline(spark, cfg, spark.read.parquet(corpus), cache="none")
    for m in cfg.metrics:
        cols = ["resource_attrs", "window_start", "attrs", "value"]
        got = spark.read.parquet(f"{out}/{sink_dirname(m.name)}").select(*cols)
        expected = want.sinks[m.name].select(*cols)
        assert got.count() == expected.count() > 0
        assert got.exceptAll(expected).count() == 0 and expected.exceptAll(got).count() == 0
    (manifest,) = [n for n in os.listdir(ckpt) if n.endswith(".json")]
    with open(os.path.join(ckpt, manifest)) as fh:
        done = json.load(fh)["sources"]
    assert sum(s["rows"] for s in done.values()) == 2000
