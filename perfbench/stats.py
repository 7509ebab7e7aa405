"""Pure helpers: summary statistics, the file -> micro-batch lag mapping
and the order-independent result hash. No Spark imports, so the tests
exercise them without a session."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _rank(p: float, n: int) -> int:
    # rounded first, so 99.9% of 10 000 is rank 9 990, not 9 991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(values)
    return float(s[_rank(p, len(s)) - 1])


def tail(values) -> tuple[float, float, int]:
    """The highest percentile in TAIL_LADDER with at least ten samples
    above it, as (percentile, value, sample count). With fewer than
    twenty samples no percentile qualifies and the median is returned."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p, percentile(values, p), n
    return 50.0, median(values), n


def read_source_log(source_log_dir: str) -> dict[str, int]:
    """Map each file a file-source stream read to the micro-batch that
    read it, from the stream's offset log (`<checkpoint>/sources/0`):
    one file per batch id (every tenth one compacted, `<id>.compact`, with
    the entries of earlier batches too), a version line, then one JSON
    entry per file naming its batch."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_lags_ms(
    scheduled: dict[str, float],
    file_batch: dict[str, int],
    commit_end: dict[int, float],
) -> tuple[dict[str, float], list[str]]:
    """Per released file: commit end of the batch that read it minus the
    file's scheduled release time, in ms. Returns (lags, files never
    committed)."""
    lags, missing = {}, []
    for name, due in scheduled.items():
        batch = file_batch.get(name)
        if batch is None or batch not in commit_end:
            missing.append(name)
        else:
            lags[name] = (commit_end[batch] - due) * 1000.0
    return lags, missing


def commit_times(commit_log_dir: str) -> dict[int, float]:
    """Batch id -> wall-clock time its commit-log entry was written."""
    return {
        int(name): os.stat(os.path.join(commit_log_dir, name)).st_mtime_ns / 1e9
        for name in os.listdir(commit_log_dir)
        if name.isdigit()
    }


def committed_watermark_s(checkpoint: str) -> float:
    """Event-time watermark (epoch seconds) the stream's last committed
    micro-batch ran with, from its offset-log entry; 0 if none."""
    commits = [int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()]
    if not commits:
        return 0.0
    with open(os.path.join(checkpoint, "offsets", str(max(commits)))) as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta.get("batchWatermarkMs", 0) / 1e3


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    if hasattr(v, "item"):
        return _canon(v.item())
    return v


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hash) of a result, independent of row and column
    order. Floats are compared to ten significant digits, so a change of
    summation order does not count as a different answer."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_canon(r[i]) for i in order], default=str) for r in rows
    )
    h = hashlib.sha256()
    h.update(json.dumps(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()[:16]
