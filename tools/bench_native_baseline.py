"""Native single-node baseline: DuckDB's C++ string-distance kernels vs ours.

The reference's own benchmark can't be built here (MySQL UDF headers are not
installed), so the single-node native comparison uses DuckDB's built-in
``levenshtein`` / ``damerau_levenshtein`` (vectorized C++) on the *exact
same* candidate pairs the pipeline scores. Writes BENCH/native_baseline.json.

Usage: python tools/bench_native_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import duckdb

    from levenshtein_spark.driver_queries.linkage import (
        _LEN_BAND,
        _PREFIX,
        docs_as_code_files,
    )
    from levenshtein_spark.kernel import batch_edit_distance
    from levenshtein_spark.operators.blocking import exploded_blocks
    from levenshtein_spark.operators.normalize import normalize
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
    from levenshtein_spark.session import get_spark

    spark = get_spark("native_baseline")
    norm = normalize(docs_as_code_files(spark, sf_dir), prefix_len=_PREFIX)
    slim = candidate_pairs(exploded_blocks(norm, len_band=_LEN_BAND), hot_threshold=50)
    pdf = (
        attach_pair_payload(slim, norm, ["content_prefix"])
        .select("content_prefix_a", "content_prefix_b")
        .toPandas()
    )
    n = len(pdf)
    tmp = "/tmp/native_baseline_pairs.parquet"
    pdf.to_parquet(tmp)

    out: dict = {"sf_dir": sf_dir, "pairs": n}
    for threads in (1, 32):
        con = duckdb.connect(config={"threads": threads})
        con.sql(f"CREATE VIEW p AS SELECT * FROM read_parquet('{tmp}')")
        con.sql("SELECT count(*) FROM p").fetchall()
        res = {}
        for fn in ("levenshtein", "damerau_levenshtein"):
            t0 = time.perf_counter()
            con.sql(
                f"SELECT sum(least({fn}(content_prefix_a, content_prefix_b), 9)) FROM p"
            ).fetchall()
            dt = time.perf_counter() - t0
            res[fn] = {"sec": round(dt, 2), "pairs_per_sec": round(n / dt, 1)}
        out[f"duckdb_threads_{threads}"] = res

    a = pdf.content_prefix_a.tolist()
    b = pdf.content_prefix_b.tolist()
    batch_edit_distance(a[:10000], b[:10000], k=8)  # warm
    t0 = time.perf_counter()
    batch_edit_distance(a, b, k=8)
    dt = time.perf_counter() - t0
    out["our_kernel_single_thread"] = {"sec": round(dt, 2), "pairs_per_sec": round(n / dt, 1)}

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/native_baseline.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
