"""Base files are key-sorted — the Iceberg sort-order analog, for free.

The fold aggregate (`resolve_lww_clustered`) is a SortAggregate over
(bucket, repo, path): Catalyst inserts the required sort before the
aggregation, groups are emitted in key order, and the projection + write
preserve it — so every compacted base file is sorted by (repo, path)
and its parquet row-group min/max stats on the key columns are TIGHT.
That is what makes point lookups row-group-skip INSIDE a bucket: at
100 TB a bucket is several GB across many row groups, and an unsorted
layout would make every row group span the whole key range (no skipping
despite PushedFilters). This test pins the property as a contract — a
future switch to a hash aggregate or an extra exchange after the fold
would silently lose it, and only the lookup latency at scale would
notice.
"""
from __future__ import annotations

import glob
import os

from pyspark_cdc import generate
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import replay_batch


def test_base_files_key_sorted_with_tight_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    log = str(tmp_path / "log")
    generate.write_log(spark, log, n_events=60_000, n_keys=20_000,
                       n_files=4, include_edge_cases=False)
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=10**9)
    replay_batch(spark, log, lake, batch_id=0)
    lake.compact_now(tier="major", full=True)

    files = sorted(glob.glob(
        str(tmp_path / "lake" / "data" / "s*" / "__bucket=*" / "**" /
            "*.parquet"),
        recursive=True,
    ))
    assert files, "no base files written"
    for f in files:
        t = pq.read_table(f, columns=["repo", "path"])
        keys = list(zip(t.column("repo").to_pylist(),
                        t.column("path").to_pylist()))
        assert keys == sorted(keys), (
            f"base file not key-sorted: {os.path.relpath(f, tmp_path)}"
        )
        md = pq.ParquetFile(f).metadata
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            seen = set()
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                if col.path_in_schema in ("repo", "path"):
                    st = col.statistics
                    assert st is not None and st.has_min_max, (
                        f"missing row-group stats on {col.path_in_schema}"
                    )
                    seen.add(col.path_in_schema)
            assert seen == {"repo", "path"}
