"""Stage 0 — ingest & normalize the code_files table.

Adds the derived columns every later stage keys on. All JVM column
expressions (whole-stage codegen); the sha256 column is the per-row
invariant required by BASELINE.json input_hint. NULL content is normalized
to '' (reference treats NULL as empty: src/prealgorithm.h:17-23), and
sha256 hashes that normalized value too: NULL and '' content share one sha,
so such a pair is an exact dupe.

The linkage plan's ``normalized`` checkpoint drops ``content``
(``plans.linkage.RECORD_COLUMNS``): no later stage reads it, and ``sha``
carries it — the plan checks the checkpoint's ``(id, sha)`` rows against
this function over the source.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_PREFIX_LEN = 256


def normalize(df: DataFrame, prefix_len: int = DEFAULT_PREFIX_LEN) -> DataFrame:
    """code_files(repo,path,commit,lang,content) → + id, sha, lengths, tokens.

    ``content_prefix`` is the declared normalization replacing the
    reference's silent 4096-byte buffer cap (SURVEY.md §2.2 item 9): scoring
    operates on a fixed prefix; exactness on full content is delegated to the
    sha256 short-circuit.
    """
    return (
        df.withColumn("id", F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256))
        .withColumn("sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
        .withColumn("content_len", F.octet_length(F.coalesce(F.col("content"), F.lit(""))))
        .withColumn("content_prefix", F.substring(F.coalesce(F.col("content"), F.lit("")), 1, prefix_len))
        .withColumn("path_base", F.element_at(F.split(F.col("path"), "/"), -1))
        .withColumn(
            "path_tokens",
            F.filter(F.split(F.lower(F.col("path")), r"[/._\-]+"), lambda x: x != ""),
        )
    )
