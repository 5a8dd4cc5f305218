"""Structured Streaming sketch accumulation.

The sketches are mergeable monoids, so streaming needs no new algorithm:
each micro-batch is a distributed batch build (same mapInPandas partial +
merge-tree path as batch mode), folded into a running sketch in
`foreachBatch`.  The reference's "real-time" story is thread-safe inserts
into a shared array (/root/reference/README.md:69); the Spark-native
equivalent is per-batch immutable partials + associative merge.

Exactly-once across restarts: foreachBatch can re-deliver the last batch
after a failure, so the accumulator records `(last_batch_id, blob)` with an
atomic rename after each fold and skips batch_ids it has already absorbed —
replays become no-ops.

Batch-equivalence is per sketch family: COMMUTATIVE sketches (Bloom /
HLL / CMS / theta / DDSketch) fold to a result BIT-IDENTICAL to one
batch build over the same rows under any micro-batch slicing.
Compaction sketches (KLL / t-digest) fold one merge per micro-batch,
so their compaction schedule — and therefore the exact retained items —
depends on the batch boundaries; the result honors the same published
rank-error bound as any merge topology (the defined semantic at scale,
see operators/pipeline.py), it just isn't byte-equal to one batch
build.  The stream≡batch pytest pins bit-identity for the
commutative families and bound-equivalence for the compaction ones.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

from bloomfilter_spark.operators.build import build_sketch
from bloomfilter_spark.sketches import serde


class StreamingSketchAccumulator:
    """Fold micro-batches into a running sketch via foreachBatch.

    Usage:
        acc = StreamingSketchAccumulator("url", factory, state_dir)
        q = (stream_df.writeStream.foreachBatch(acc)
             .option("checkpointLocation", ckpt).trigger(availableNow=True)
             .start())
        q.awaitTermination()
        acc.sketch  # the merged result
    """

    def __init__(
        self,
        col: str,
        factory: Callable[[], object],
        state_dir: str | None = None,
    ):
        self.col = col
        self.factory = factory
        self.state_dir = state_dir
        self.sketch = factory()
        self.last_batch_id = -1
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)
            self._restore()

    # foreachBatch calls the object directly
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # replayed batch after restart — already folded
        part = build_sketch(batch_df, self.col, self.factory)
        self.sketch.merge(part)
        self.last_batch_id = batch_id
        self._persist()

    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "sketch_state.bin")

    def _persist(self) -> None:
        if not self.state_dir:
            return
        path = self._state_path()
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(self.last_batch_id.to_bytes(8, "little", signed=True))
            f.write(self.sketch.to_bytes())
        os.replace(tmp, path)

    def _restore(self) -> None:
        path = self._state_path()
        if not os.path.exists(path):
            return
        with open(path, "rb") as f:
            raw = f.read()
        self.last_batch_id = int.from_bytes(raw[:8], "little", signed=True)
        self.sketch = serde.deserialize(raw[8:])
