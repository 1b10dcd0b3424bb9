"""The metric config both workloads run, owned by the benchmark.

`FLAGSHIP` is the 4-metric config of the repo's `bench.py` flagship (Count,
Sum, Histogram and a `switch` attribute), copied so that a program change
cannot alter a workload.
"""

from __future__ import annotations

RESOURCE = [
    {"key": "service.name", "value": "Amazon CloudFront"},
    {"key": "aws.cloudfront.distribution_id", "value": {"expr": "cloudfront.distributionId"}},
]

_STATUS = [{"key": "http.status_code", "value": {"expr": "log.scStatusCategory"}}]
_ORIGIN = {
    "key": "origin",
    "value": {
        "switch": [
            {"case": {"expr": 'log.csUriStem.startsWith("/api/")'}, "value": "app"},
            {"case": {"expr": 'log.csUriStem == "/favicon.ico"'}, "value": "static"},
            {"default": "S3"},
        ]
    },
}

FLAGSHIP = {
    "resource_attributes": RESOURCE,
    "scope": {"name": "bench"},
    "metrics": [
        {"name": "requests", "type": "Count", "attributes": _STATUS},
        {
            "name": "bytes",
            "type": "Sum",
            "unit": "Byte",
            "value": {"expr": "double(log.scBytes)"},
            "attributes": _STATUS,
            "is_monotonic": True,
        },
        {
            "name": "request_time",
            "type": "Histogram",
            "unit": "ms",
            "value": {"expr": "log.timeTaken * 1000.0"},
        },
        {"name": "by_origin", "type": "Count", "attributes": [_ORIGIN]},
    ],
}


# Hand mapping of every CEL expression above to DuckDB SQL over the oracle's
# own parse of the text lines (see oracle.py for the column names). An
# expression missing here makes the oracle raise, never skip a check.
CEL_TO_DUCKDB = {
    "cloudfront.distributionId": "distribution_id",
    "log.scStatusCategory": "CAST(sc_status // 100 AS VARCHAR) || 'xx'",
    "double(log.scBytes)": "CAST(sc_bytes AS DOUBLE)",
    "log.timeTaken * 1000.0": "time_taken * 1000.0",
    'log.csUriStem.startsWith("/api/")': "starts_with(cs_uri_stem, '/api/')",
    'log.csUriStem == "/favicon.ico"': "cs_uri_stem = '/favicon.ico'",
}
