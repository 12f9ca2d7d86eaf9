"""Epoch-versioned state for the stateful ``foreachBatch`` pipelines.

One copy of the commit protocol that ``KeyedRetryPipeline``,
``StreamingPrivacyPipeline``, ``StreamingCurationPipeline`` and
``ComposedGatesPipeline`` all write through:

- a *family* is a directory of per-epoch versions,
  ``<family_root>/v<epoch>/`` parquet; an epoch's write REMOVES its
  version first, so a replayed micro-batch rewrites it instead of
  appending (the K3 case — crash between the state write and the
  offset commit);
- ``<root>/_commits/<epoch>`` is an empty marker landed only after
  every family write of the epoch succeeded — Structured Streaming's
  commit log (SIGMOD 2018). Readers see committed versions only, so a
  crash mid-epoch leaves torn ``v<epoch>`` dirs that no reader sees and
  the replay rewrites (the deterministic-recompute argument of
  Discretized Streams, SOSP 2013);
- ``commit(..., retain=n)`` keeps the ``n`` newest markers and the
  root-level versions they name (delivery's snapshot table); families
  of append-only deltas are never collected.

Epoch-ordering contract: ``foreachBatch`` delivers epochs sequentially
per query — epoch N is retried until committed before N+1 starts — so
at most the single newest epoch can be torn.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class EpochStore:
    """Versioned families plus commit markers under one ``root``."""

    def __init__(self, root: str):
        self.root = root
        self._commits = os.path.join(root, "_commits")
        # family_root -> (epoch, schema) of the newest version this
        # instance wrote; lets latest() skip the schema-inference job
        self._schemas: dict[str, tuple[int, StructType]] = {}
        os.makedirs(self._commits, exist_ok=True)

    def committed(self) -> list[int]:
        """Epochs whose commit marker has landed, ascending."""
        return sorted(int(f) for f in os.listdir(self._commits))

    @staticmethod
    def versions(family_root: str) -> list[int]:
        """Epochs with a ``v<epoch>`` dir under ``family_root``,
        committed or not, ascending."""
        if not os.path.isdir(family_root):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(family_root)
            if d.startswith("v")
            and d[1:].isdigit()
            and os.path.isdir(os.path.join(family_root, d))
        )

    def write(self, df: DataFrame, family_root: str, epoch_id: int, key: str) -> None:
        """Idempotent version write. The keyed exchange has no pinned
        partition count: AQE coalesces a tiny epoch to one file while a
        corpus-scale epoch still fans out to ``shuffle.partitions``."""
        path = os.path.join(family_root, f"v{epoch_id}")
        shutil.rmtree(path, ignore_errors=True)  # replayed epoch: rewrite
        df.repartition(key).write.mode("overwrite").parquet(path)
        self._schemas[family_root] = (epoch_id, df.schema)

    def submit(self, writes: list[tuple[DataFrame, str, str]], epoch_id: int):
        """Submit ``(df, family_root, key)`` writes as CONCURRENT Spark
        jobs (one driver thread each) and return ``wait``. The families
        must be independent: each frame derives from inputs persisted
        before this call, so the racing jobs only read caches, and the
        epoch's write wall time is ~max(job) instead of Σ(job).

        ``wait()`` quiesces EVERY write, then raises the sole failure
        as is, or an ``ExceptionGroup`` of all of them. A crash leaves
        an arbitrary settled subset of torn ``v<epoch>`` dirs; the
        caller commits only after ``wait()`` returns cleanly. The pool
        is shut down at once, so its threads exit even if ``wait`` is
        never called."""
        ex = ThreadPoolExecutor(max_workers=len(writes))
        futures = [
            ex.submit(self.write, df, root, epoch_id, key) for df, root, key in writes
        ]
        ex.shutdown(wait=False)

        def wait() -> None:
            errs = []
            for f in futures:
                try:
                    f.result()
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    errs.append(e)
            if len(errs) == 1:
                raise errs[0]
            if errs:
                raise BaseExceptionGroup(
                    f"{len(errs)} of {len(futures)} epoch {epoch_id} writes failed",
                    errs,
                )

        return wait

    def commit(self, epoch_id: int, retain: int | None = None) -> None:
        """Land the epoch's marker; with ``retain``, then drop all but
        the ``retain`` newest markers and their ``root/v<epoch>``
        versions."""
        with open(os.path.join(self._commits, str(epoch_id)), "w"):
            pass
        if retain is None:
            return
        for old in self.committed()[:-retain]:
            shutil.rmtree(os.path.join(self.root, f"v{old}"), ignore_errors=True)
            os.unlink(os.path.join(self._commits, str(old)))

    def latest(
        self, spark: SparkSession, family_root: str, below: int | None = None
    ) -> DataFrame | None:
        """The newest committed version (with epoch < ``below``), or
        None. A version this instance wrote is read with the schema it
        wrote, so no inference job runs."""
        epochs = [e for e in self.committed() if below is None or e < below]
        if not epochs:
            return None
        reader = spark.read
        written = self._schemas.get(family_root)
        if written and written[0] == epochs[-1]:
            reader = reader.schema(written[1])
        return reader.parquet(os.path.join(family_root, f"v{epochs[-1]}"))

    def union(
        self, spark: SparkSession, family_root: str, below: int | None = None
    ) -> DataFrame | None:
        """Every committed version (with epoch < ``below``), or None.

        Visible: marker MEMBERSHIP for epochs inside the GC retention
        window, plus every version below the oldest surviving marker (a
        marker is removed only after newer commits, so those were
        committed). "epoch ≤ newest marker" alone would briefly expose
        the torn rewrite of an out-of-order replayed old epoch. For a
        never-collected family this is marker membership alone."""
        committed = self.committed()
        if not committed:
            return None
        marked, lo = set(committed), committed[0]
        paths = [
            os.path.join(family_root, f"v{e}")
            for e in self.versions(family_root)
            if (e in marked or e < lo) and (below is None or e < below)
        ]
        return spark.read.parquet(*paths) if paths else None
