"""Streaming mergeable sketches: maintain a fixed-size count-min sketch
over an unbounded document feed.

The point of sketching at 100 TB is MERGEABILITY: cells are plain sums,
so partial sketches from partitions, batches, or streaming micro-batches
combine by cell-wise addition, in any order, to exactly the sketch of the
union. This module is the streaming leg of that contract:

  * cluster side, per micro-batch: per-Arrow-batch PARTIAL sketches from
    one shuffle-free mapInPandas pass (same tokenizer spec and md5 bucket
    arithmetic as the batch query ``operators.textops.cms_sketch``), so
    the collect moves at most DEPTH x WIDTH cells per partition chunk no
    matter the batch size — and no exchange runs at all;
  * driver side: cell-wise addition into a DEPTH x WIDTH numpy array
    (DEPTH*WIDTH = 1024 int64 cells — the whole sketch is ~8 KB; merging
    it per batch is O(cells), not O(tokens), which is exactly why the
    sketch is the right streaming accumulator where an exact counter
    table grows with vocabulary).

Estimates carry the standard CMS guarantee (never under-count; over-count
bounded by collisions) and — because the bucket hash is the shared
md5-derived arithmetic — are bit-identical to the batch query's estimates
over the same corpus. Reference parity: the reference keeps running
per-run totals only (M8, connectors/googleAnalyticsETL.js:36-70); a
frequency sketch is part of the scale extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tomixpanel_spark.operators.textops import (
    CMS_DEPTH,
    CMS_WIDTH,
    _cms_bucket_arr,
    cms_cells_from_counts,
)


def _py_bucket(row: int, token: str) -> int:
    """Python mirror of ``operators.textops._cms_bucket`` — delegates to
    the ONE shared bucket-arithmetic copy (``_cms_bucket_arr``) so the
    streaming sketch can never diverge from the batch fold's spec."""
    return int(_cms_bucket_arr(row, [token])[0])


class StreamingCountMin:
    """Count-min sketch accumulated across micro-batches.

    Usage::

        cms = StreamingCountMin()
        q = (stream.writeStream.outputMode("update")
             .foreachBatch(cms.update_batch)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        cms.estimate("the")
    """

    def __init__(self) -> None:
        import numpy as np

        self.cells = np.zeros((CMS_DEPTH, CMS_WIDTH), dtype="int64")
        self.n_batches = 0

    def update_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch hook: per-partition PARTIAL sketches from one
        shuffle-free Arrow pass, cell-merged here. The earlier form ran
        ``cms_sketch`` (explode -> hash aggregate) per micro-batch — a
        2-stage job whose exchange moved <=1024 cells but still paid a
        full stage round-trip per trigger (~0.2 s at the measured host
        floor). Partial sketches are the CMS mergeability contract
        doing the work: each Arrow batch folds to its own DEPTH x WIDTH
        cells in-process (pyarrow tokenize + md5 buckets over the
        batch's DISTINCT tokens), the driver adds arrays — one stage,
        one collect, identical cells."""
        from tomixpanel_spark.session import python_stage

        def partials(it):
            import numpy as np
            import pandas as pd

            from tomixpanel_spark.operators.textops import _pa_tokenize_tf

            for pdf in it:
                if not len(pdf):
                    continue
                # row index as the doc id: the sketch sums per TOKEN, so
                # document identity is irrelevant — and the old contract
                # (cms_sketch) only required a text column
                tf = _pa_tokenize_tf(
                    range(len(pdf)), pdf["text"]
                ).to_pandas()
                if not len(tf):
                    continue
                counts = tf.groupby("token", sort=False)["tf"].sum()
                cells = cms_cells_from_counts(
                    counts.index.to_numpy(), counts.to_numpy(np.int64)
                )
                rr, bb = np.nonzero(cells)
                yield pd.DataFrame(
                    {"row": rr, "bucket": bb, "c": cells[rr, bb]}
                )

        part = python_stage(
            batch_df.select("text"), partials, "row int, bucket long, c long"
        )
        for r in part.collect():
            self.cells[r["row"], r["bucket"]] += r["c"]
        self.n_batches += 1

    def merge(self, other: "StreamingCountMin") -> "StreamingCountMin":
        """Cell-wise merge (e.g. sketches from parallel backfill jobs)."""
        self.cells += other.cells
        self.n_batches += other.n_batches
        return self

    def estimate(self, token: str) -> int:
        """Point frequency estimate: min over depth rows (never under the
        true count; over by at most the row's collision mass)."""
        return int(
            min(self.cells[r, _py_bucket(r, token)] for r in range(CMS_DEPTH))
        )
