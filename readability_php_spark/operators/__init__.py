from __future__ import annotations


def collect_at_most(df, n: int):
    """Every row of ``df`` when it has at most ``n`` rows, else ``None``.

    One ``limit(n + 1).collect()``: the driver never holds more than
    ``n + 1`` rows however large ``df`` is, and when ``df`` fits, the
    probe's rows are the answer, so no separate count runs.  This is the
    one size rule behind every operator that trains or iterates on the
    driver when its input is small and in Spark when it is not."""
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None
