"""CheckIndex analog — distributed index-integrity verification.

Reference: ``src/Lucene.Net/Index/CheckIndex.cs`` (the segment
checker run by ``IndexWriter`` diagnostics and the ``FixIndex`` CLI):
it re-reads every segment and cross-checks doc counts, postings
(freq vs positions enumerated), norms, and stored fields. This is the
same contract re-expressed as Spark aggregates: every invariant the
packed index must satisfy is verified by ONE full decode pass plus
docs-side joins, and the result is a small (check, observed,
expected, ok) table.

Like the reference, this is a full-scan diagnostic — CheckIndex reads
every posting by design. At 100 TB the decode pass is
embarrassingly parallel (the mapInPandas unpack over packed blocks,
no shuffle), the per-doc reconciliations are one hash-partitioned
join on docid, and only the ~7-row verdict table reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import InvertedIndex

CHECKS = (
    "doc_count",
    "doclen_mismatch",
    "duplicate_docids",
    "freq_positions_mismatch",
    "norm_mismatch",
    "orphan_postings",
    "postings_rows",
    "sum_tf",
)


def check_index(idx: InvertedIndex, expected: dict | None = None) -> DataFrame:
    """Verify index invariants; returns (check, observed, ok) rows.

    - ``doc_count``: rows in the docs table.
    - ``postings_rows`` / ``sum_tf``: decoded posting count and total
      term frequency (must equal the corpus recount — the oracle
      recomputes both from raw text).
    - ``freq_positions_mismatch``: postings whose stored freq differs
      from their decoded position count (CheckIndex's posting/
      positions cross-enumeration).
    - ``doclen_mismatch``: docs whose field_length differs from the
      sum of their posting freqs.
    - ``norm_mismatch``: postings whose norm byte differs from the
      docs table's stored norm.
    - ``orphan_postings``: postings whose docid is missing from docs.
    - ``duplicate_docids``: docs-table docid collisions.

    ``ok`` compares against ``expected`` when given (keys from
    :data:`CHECKS`); the structural checks default to expected 0.

    Sibling: ``index/checkpoint.py::check_index`` reconciles a SAVED
    sharded warehouse against its manifest COUNTERS (cheap, metadata
    only); this function decodes and cross-checks the posting DATA of
    a live index — the full CheckIndex contract.
    """
    spark = idx.docs.sparkSession
    p = idx.postings().select(
        "docid", "term", "freq", F.size("positions").alias("npos"), "norm"
    )

    agg = p.agg(
        F.count("*").cast("long").alias("postings_rows"),
        F.sum("freq").cast("long").alias("sum_tf"),
        F.sum((F.col("freq") != F.col("npos")).cast("long"))
        .cast("long")
        .alias("freq_positions_mismatch"),
    ).first()

    docs = idx.docs.select("docid", "field_length", "norm")
    per_doc = p.groupBy("docid").agg(
        F.sum("freq").cast("long").alias("tfsum"),
        F.max("norm").alias("nmax"),
        F.min("norm").alias("nmin"),
    )
    joined = docs.join(per_doc, "docid", "left")
    doclen_mismatch = joined.where(
        F.coalesce(F.col("tfsum"), F.lit(0)) != F.col("field_length")
    ).count()
    norm_mismatch = joined.where(
        F.col("tfsum").isNotNull()
        & ((F.col("nmax") != F.col("norm")) | (F.col("nmin") != F.col("norm")))
    ).count()
    orphan = per_doc.join(docs.select("docid"), "docid", "left_anti").count()
    n_docs = docs.count()
    dup_docids = n_docs - docs.select("docid").distinct().count()

    observed = {
        "doc_count": int(n_docs),
        "doclen_mismatch": int(doclen_mismatch),
        "duplicate_docids": int(dup_docids),
        "freq_positions_mismatch": int(agg["freq_positions_mismatch"] or 0),
        "norm_mismatch": int(norm_mismatch),
        "orphan_postings": int(orphan),
        "postings_rows": int(agg["postings_rows"]),
        "sum_tf": int(agg["sum_tf"] or 0),
    }
    exp = dict.fromkeys(
        ("doclen_mismatch", "duplicate_docids", "freq_positions_mismatch",
         "norm_mismatch", "orphan_postings"), 0,
    )
    if expected:
        exp.update(expected)
    rows = [
        (c, observed[c], bool(observed[c] == exp[c]) if c in exp else True)
        for c in CHECKS
    ]
    return spark.createDataFrame(rows, "check string, observed long, ok boolean")
