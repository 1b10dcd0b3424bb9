"""A small protobuf wire reader for OTLP ExportMetricsServiceRequest bodies.

No protobuf package is installed, and the program's own decoder is the code
under test, so the benchmark reads the bodies its loopback receiver gets with
this reader. It knows only the fields the checks need, with the field
numbers of opentelemetry-proto v1 (metrics.proto, common.proto), and turns a
request into flat data points:

    (metric name, resource attrs, start ns, end ns, attrs) -> value

where attrs are sorted ``(key, value-as-string)`` tuples and value is an int
(Count), a float (Sum) or a dict (Histogram).
"""

from __future__ import annotations

import struct


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7


def fields(buf: bytes):
    """Yield (field number, wire type, value) for one message; a value is an
    int for varint and fixed64, and bytes for length-delimited fields."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        num, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 1:
            v = struct.unpack_from("<Q", buf, i)[0]
            i += 8
        elif wt == 2:
            n, i = _varint(buf, i)
            v = buf[i : i + n]
            i += n
        elif wt == 5:
            v = struct.unpack_from("<I", buf, i)[0]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt} in field {num}")
        yield num, wt, v


def _double(v: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", v))[0]


def _any_value(buf: bytes) -> str:
    for num, _, v in fields(buf):
        if num == 1:
            return v.decode("utf-8")
        if num == 2:
            return "true" if v else "false"
        if num == 3:
            return str(v - (1 << 64) if v >= 1 << 63 else v)
        if num == 4:
            return repr(_double(v))
    return ""


def _attrs(kvs: list[bytes]) -> tuple:
    out = []
    for kv in kvs:
        key, val = "", ""
        for num, _, v in fields(kv):
            if num == 1:
                key = v.decode("utf-8")
            elif num == 2:
                val = _any_value(v)
        out.append((key, val))
    return tuple(sorted(out))


def _packed(buf: bytes, fmt: str) -> list:
    return list(struct.unpack(f"<{len(buf) // 8}{fmt}", buf))


def _data_point(buf: bytes, histogram: bool):
    attrs, start, end = [], 0, 0
    value = None
    h: dict = {}
    attr_field = 9 if histogram else 7
    for num, wt, v in fields(buf):
        if num == attr_field:
            attrs.append(v)
        elif num == 2:
            start = v
        elif num == 3:
            end = v
        elif histogram:
            if num == 4:
                h["count"] = v
            elif num == 5:
                h["sum"] = _double(v)
            elif num == 6:
                h["bucket_counts"] = _packed(v, "Q") if wt == 2 else [v]
            elif num == 7:
                h["bounds"] = _packed(v, "d") if wt == 2 else [_double(v)]
            elif num == 11:
                h["min"] = _double(v)
            elif num == 12:
                h["max"] = _double(v)
        elif num == 4:
            value = _double(v)
        elif num == 6:
            value = v - (1 << 64) if v >= 1 << 63 else v
    return _attrs(attrs), start, end, (h if histogram else value)


def data_points(body: bytes) -> dict:
    """Flatten one ExportMetricsServiceRequest into data points."""
    out: dict = {}
    for num, _, rm in fields(body):
        if num != 1:
            continue
        res_attrs: tuple = ()
        scope_metrics = []
        for n2, _, v in fields(rm):
            if n2 == 1:
                res_attrs = _attrs([a for n3, _, a in fields(v) if n3 == 1])
            elif n2 == 2:
                scope_metrics.append(v)
        for sm in scope_metrics:
            for n3, _, metric in fields(sm):
                if n3 != 2:
                    continue
                name, data, hist = "", b"", False
                for n4, _, v in fields(metric):
                    if n4 == 1:
                        name = v.decode("utf-8")
                    elif n4 in (7, 9):
                        data, hist = v, n4 == 9
                for n5, _, dp in fields(data):
                    if n5 == 1:
                        attrs, start, end, value = _data_point(dp, hist)
                        key = (name, res_attrs, start, end, attrs)
                        if key in out:
                            raise ValueError(f"duplicate data point {key}")
                        out[key] = value
    return out
