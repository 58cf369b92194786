"""The benchmark's own arithmetic, kept apart so it can be tested alone."""
import os
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    With n >= 20 samples that is the (n - 10)-th smallest value, the
    percentile 100 * (n - 10) / n.  Below 20 samples no percentile at or
    above the median qualifies, and the median is reported.  Returns
    (value, percentile, n)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return median(xs), 50.0, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def covered(window, intervals):
    """Length of the part of `window` = (start, end) that the union of
    `intervals` covers; intervals may overlap and stick out of it."""
    lo, hi = window
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stored(root):
    """(data files, metadata files, total bytes) under a table root.

    Data files hold rows (`*.parquet`, and the `.csv` payloads older
    table versions used); everything else the format writes (snapshot
    lists, segments, definition chains, schema and pointer files) counts
    as metadata.  Hidden checksum files (`.*.crc`) are not counted."""
    data = meta = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(".") and f.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet") or f.endswith(".csv"):
                data += 1
            else:
                meta += 1
    return data, meta, size
