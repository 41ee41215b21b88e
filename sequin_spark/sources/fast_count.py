"""Fast row-count estimate — the `pg_class.reltuples` analog.

Reference: table_reader.ex:333-360 ``fast_count_estimate`` reads the
planner's reltuples estimate instead of ``count(*)`` so backfill
progress bars don't pay a full scan before the first page.

Spark/parquet analog: every parquet footer carries its row count —
summing footers is pure metadata I/O (no column data touched), exactly
the "statistics, not scan" trade reltuples makes. For a cursor-bounded
estimate (``WHERE cursor > v``), the reference scales the estimate by
the filtered fraction of a sampled window; we expose the same shape via
an optional fraction argument.
"""

from __future__ import annotations


def fast_count_estimate(path: "str | list[str]", fraction: float = 1.0) -> int:
    """Sum parquet footer num_rows across the dataset at ``path`` (a
    dataset path, or the file URIs ``DataFrame.inputFiles()`` lists) —
    metadata only, independent of table width. ``fraction`` scales the
    estimate for a cursor-bounded backfill window (include_min
    adjustment, table_reader.ex:345-358)."""
    import pyarrow.dataset as ds
    from pyarrow import fs

    if isinstance(path, str):
        dataset = ds.dataset(path, format="parquet")
    else:
        dataset = ds.dataset([fs.FileSystem.from_uri(u)[1] for u in path],
                             format="parquet",
                             filesystem=fs.FileSystem.from_uri(path[0])[0])
    total = dataset.count_rows()
    return int(total * fraction)


def count_or_estimate(df, path: "str | list[str] | None" = None) -> int:
    """Prefer the metadata estimate when the parquet path is known;
    fall back to a distributed count(*) otherwise."""
    if path is not None:
        try:
            return fast_count_estimate(path)
        except Exception:  # noqa: BLE001 — non-parquet / remote path
            pass
    return df.count()
