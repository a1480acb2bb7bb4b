"""Helpers shared by the workloads: statistics, the HTTP client, the
result digest and memory readings."""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import statistics
import time


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; (nan, 0) with ten samples or fewer."""
    n = len(xs)
    if n <= 10:
        return float("nan"), 0
    return sorted(xs)[n - 11], int(100 * (n - 10) / n)


def zstd(data: bytes, compress: bool) -> bytes:
    """The client's own zstd codec, not the service's helpers, so a codec
    bug on the server cannot cancel itself out on the client."""
    import pyarrow as pa

    if not compress:
        return pa.input_stream(pa.BufferReader(data), compression="zstd").read()
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    return bytes(sink.getvalue())


class Client:
    """One keep-alive connection, the way a closed-loop caller holds it.
    Request bodies go out zstd-compressed and responses are accepted
    compressed, so the service's compression middleware is on the path."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def post(self, path: str, body: dict) -> tuple[int, dict, float]:
        """(status, decoded body, wall ms)."""
        raw = zstd(json.dumps(body).encode(), compress=True)
        t0 = time.perf_counter()
        self.conn.request(
            "POST",
            path,
            body=raw,
            headers={
                "Content-Type": "application/json",
                "Content-Encoding": "zstd",
                "Accept-Encoding": "zstd",
            },
        )
        resp = self.conn.getresponse()
        data = resp.read()
        ms = (time.perf_counter() - t0) * 1000.0
        if resp.getheader("Content-Encoding") == "zstd":
            data = zstd(data, compress=False)
        try:
            out = json.loads(data or b"{}")
        except ValueError:
            out = {}
        return resp.status, out, ms

    def close(self) -> None:
        self.conn.close()


def _canon(v):
    """Order-insensitive, 5-decimal canonical cell (the rounding of the
    repo's parity check); integral floats fold onto ints so nullable
    integer columns compare equal across engines."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        f = round(f, 5) + 0.0
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, (str, bytes)):
        return v if isinstance(v, str) else v.hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        try:
            import pandas as pd

            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        return v.isoformat()
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(row count, value hash) of a pandas frame: columns sorted by
    name, cells canonicalized, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
    return len(rows), h


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
