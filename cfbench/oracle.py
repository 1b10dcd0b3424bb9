"""Independent DuckDB oracle for every timed operation.

The oracle never calls program code. It parses the untokenized text lines
with DuckDB SQL, evaluates each config expression through the hand mapping
in `metric_configs.CEL_TO_DUCKDB` (an expression without a mapping raises), and
aggregates Count, Sum and Histogram data points per
(resource attributes, window, attributes). Windows are epoch-anchored
tumbling windows, which equal Go's `Truncate` for every interval that
divides a day.

Outputs are read back by the contract of the entry point that wrote them:
batch sink tables as they are, and single-pass streaming sinks as
`_batch_id` deltas summed per key.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from metric_configs import CEL_TO_DUCKDB

# OTel's default explicit histogram bounds, which the config applies when a
# Histogram metric names none.
DEFAULT_BOUNDS = [0.0, 5.0, 10.0, 25.0, 50.0, 75.0, 100.0, 250.0, 500.0,
                  750.0, 1000.0, 2500.0, 5000.0, 7500.0, 10000.0]

# (column, 1-based position in the canonical 33-field line, DuckDB type) of
# the fields the mapped expressions read
_FIELDS = [
    ("sc_bytes", 4, "BIGINT"), ("cs_uri_stem", 8, None),
    ("sc_status", 9, "BIGINT"), ("time_taken", 19, "DOUBLE"),
]
_DURATIONS = {"s": 1, "m": 60, "h": 3600}


class OracleError(ValueError):
    """The oracle cannot evaluate a config; a check that raises this fails."""


def connect(tsv_paths: list[str]) -> duckdb.DuckDBPyConnection:
    """A connection with a `logs` view over the given `line TAB source`
    files (plain or gzip); its `file` column is the index of the row's file
    in the list."""
    con = duckdb.connect()
    cols = ", ".join(f"'c{i:02d}': 'VARCHAR'" for i in range(1, 35))
    files = ", ".join(f"'{p}'" for p in tsv_paths)
    con.execute(
        f"CREATE TABLE raw AS SELECT * FROM read_csv([{files}], delim='\t', "
        f"header=false, quote='', escape='', auto_detect=false, filename=true, "
        f"columns={{{cols}}})"
    )
    con.execute("CREATE TABLE files (filename VARCHAR, file INTEGER)")
    con.executemany("INSERT INTO files VALUES (?, ?)",
                    [(p, i) for i, p in enumerate(tsv_paths)])
    sel = []
    for name, pos, typ in _FIELDS:
        v = f"NULLIF(c{pos:02d}, '-')"
        sel.append(f"TRY_CAST({v} AS {typ}) AS {name}" if typ else f"{v} AS {name}")
    base = r"regexp_extract(c34, '([^/]+)\.gz$', 1)"
    con.execute(
        f"""CREATE VIEW logs AS SELECT {", ".join(sel)},
            CASE WHEN NULLIF(c01, '-') IS NOT NULL AND NULLIF(c02, '-') IS NOT NULL
                 THEN TRY_STRPTIME(c01 || ' ' || c02, '%Y-%m-%d %H:%M:%S') END AS ts,
            CASE WHEN {base} <> '' AND len(string_split({base}, '.')) >= 3
                 THEN split_part({base}, '.', 1) END AS distribution_id,
            c34 AS source, file
        FROM raw JOIN files USING (filename)"""
    )
    return con


def _literal(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise OracleError(f"no SQL literal for {v!r}")


def _expr(cel: str) -> str:
    try:
        return f"({CEL_TO_DUCKDB[cel]})"
    except KeyError:
        raise OracleError(f"no DuckDB mapping for config expression {cel!r}") from None


def _value(v) -> str:
    """A config value: a literal, {"expr": cel} or {"switch": [...]}."""
    if isinstance(v, dict) and "expr" in v:
        return _expr(v["expr"])
    if isinstance(v, dict) and "switch" in v:
        whens, default = [], "NULL"
        for case in v["switch"]:
            if "default" in case:
                default = _value(case["default"])
            else:
                whens.append(f"WHEN {_value(case['case'])} THEN {_value(case['value'])}")
        return f"(CASE {' '.join(whens)} ELSE {default} END)"
    if isinstance(v, dict):
        raise OracleError(f"unsupported config value {v!r}")
    return _literal(v)


def _interval_seconds(s: str) -> int:
    try:
        return int(s[:-1]) * _DURATIONS[s[-1]]
    except (KeyError, ValueError):
        raise OracleError(f"unsupported interval {s!r}") from None


def _attr_tuple(keys: list[str], values) -> tuple:
    return tuple(sorted((k, v) for k, v in zip(keys, values) if v is not None))


def expected_points(
    con: duckdb.DuckDBPyConnection, cfg: dict, files: list[int] | None = None
) -> dict:
    """Data points of every metric of `cfg` over the `logs` view, or over
    the rows of the given file indexes only:
    {(metric, resource attrs, window start s, window end s, attrs): value}."""
    res = cfg.get("resource_attributes", [])
    res_keys = [a["key"] for a in res]
    res_sql = [f"CAST({_value(a['value'])} AS VARCHAR)" for a in res]
    out: dict = {}
    for m in cfg["metrics"]:
        kind = m.get("type", "Count")
        iv = _interval_seconds(m.get("interval", "1m"))
        keys = [a["key"] for a in m.get("attributes", [])]
        attr_sql = [f"CAST({_value(a['value'])} AS VARCHAR)" for a in m.get("attributes", [])]
        where = "ts IS NOT NULL"
        if files is not None:
            where += f" AND file IN ({', '.join(str(int(f)) for f in files) or 'NULL'})"
        if m.get("filter") is not None:
            where += f" AND ({_value(m['filter'])}) IS TRUE"
        if kind == "Count":
            aggs = ["count(*)"]
        else:
            v = f"CAST({_value(m['value'])} AS DOUBLE)"
            if kind == "Sum":
                aggs = [f"sum({v})"]
            elif kind == "Histogram":
                b = [float(x) for x in (m.get("boundaries") or DEFAULT_BOUNDS)]
                conds = [f"{v} < {b[0]!r}"]
                conds += [f"{v} >= {lo!r} AND {v} < {hi!r}" for lo, hi in zip(b, b[1:])]
                conds.append(f"{v} >= {b[-1]!r}")
                aggs = [f"count({v})", f"sum({v})", f"min({v})", f"max({v})"]
                aggs += [f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in conds]
            else:
                raise OracleError(f"unsupported metric type {kind!r}")
        group = res_sql + attr_sql + [f"CAST(floor(epoch(ts) / {iv}) AS BIGINT) * {iv}"]
        sql = (
            f"SELECT {', '.join(group + aggs)} FROM logs WHERE {where} "
            f"GROUP BY {', '.join(str(i + 1) for i in range(len(group)))}"
        )
        nr, na = len(res_sql), len(attr_sql)
        for row in con.execute(sql).fetchall():
            w = int(row[nr + na])
            key = (
                m["name"],
                _attr_tuple(res_keys, row[:nr]),
                w,
                w + iv,
                _attr_tuple(keys, row[nr : nr + na]),
            )
            vals = row[nr + na + 1 :]
            if kind == "Count":
                value = int(vals[0])
            elif kind == "Sum":
                value = float(vals[0])
            else:
                value = {
                    "count": int(vals[0]), "sum": float(vals[1]),
                    "min": float(vals[2]), "max": float(vals[3]),
                    "bounds": b, "bucket_counts": [int(x) for x in vals[4:]],
                }
                if m.get("no_min_max"):
                    value["min"] = value["max"] = None
            out[key] = value
    return out


def source_rows(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    return dict(con.execute("SELECT source, count(*) FROM logs GROUP BY 1").fetchall())


def _epoch_seconds(col: pa.ChunkedArray) -> list[int]:
    return pc.cast(pc.cast(col, pa.timestamp("s", tz="UTC")), pa.int64()).to_pylist()


def _attrs(v) -> tuple:
    return tuple(sorted((a["key"], a["value"]) for a in v))


def _add(a, b):
    """Sum two delta data-point values."""
    if isinstance(a, dict):
        out = dict(a)
        out["count"] += b["count"]
        out["sum"] += b["sum"]
        if a["min"] is not None:
            out["min"] = min(a["min"], b["min"])
            out["max"] = max(a["max"], b["max"])
        out["bucket_counts"] = [x + y for x, y in zip(a["bucket_counts"], b["bucket_counts"])]
        return out
    return a + b


def _batch_id(path: str) -> int | None:
    for part in path.split(os.sep):
        if part.startswith("_batch_id="):
            return int(part.split("=", 1)[1])
    return None


def sink_points(
    out_dir: str, deltas: bool, batches: set[int] | None = None
) -> tuple[dict, int]:
    """Read every parquet file under `out_dir` as data points; with
    `deltas`, rows with the same key are summed (single-pass `_batch_id`
    contract), otherwise a repeated key is a mismatch. `batches` keeps only
    the files of those `_batch_id` partitions. Returns the points and the
    number of data files read."""
    out: dict = {}
    files = 0
    for root, _, names in os.walk(out_dir):
        if batches is not None and _batch_id(root) not in batches:
            continue
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            files += 1
            t = pq.read_table(os.path.join(root, name))
            ws = _epoch_seconds(t.column("window_start"))
            we = _epoch_seconds(t.column("window_end"))
            hist = "bucket_counts" in t.column_names
            for i, r in enumerate(t.drop(["window_start", "window_end"]).to_pylist()):
                key = (r["metric_name"], _attrs(r["resource_attrs"]), ws[i], we[i],
                       _attrs(r["attrs"]))
                if hist:
                    value = {k: r[k] for k in ("count", "sum", "min", "max", "bounds",
                                                "bucket_counts")}
                else:
                    value = r["value"]
                if key in out:
                    if not deltas:
                        raise AssertionError(f"duplicate data point {key}")
                    value = _add(out[key], value)
                out[key] = value
    return out, files


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same(expected, got) -> bool:
    if isinstance(expected, dict):
        return isinstance(got, dict) and all(
            _close(expected[k], got.get(k)) if not isinstance(expected[k], list)
            else len(expected[k]) == len(got.get(k) or [])
            and all(_close(x, y) for x, y in zip(expected[k], got[k]))
            for k in expected
        )
    return _close(expected, got)


def diff(expected: dict, got: dict, what: str, limit: int = 3) -> list[str]:
    """Mismatches between two point sets, at most `limit` listed per kind."""
    missing = [k for k in expected if k not in got]
    extra = [k for k in got if k not in expected]
    wrong = [k for k in expected if k in got and not _same(expected[k], got[k])]
    out = []
    for label, keys in (("missing", missing), ("unexpected", extra), ("wrong value", wrong)):
        if keys:
            ex = "; ".join(
                f"{k} want={expected.get(k)} got={got.get(k)}" for k in keys[:limit]
            )
            out.append(f"{what}: {len(keys)} {label} data points, e.g. {ex}")
    return out
