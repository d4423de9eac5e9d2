"""The exactly-once store behind the stream's ``foreachBatch`` sinks.

Structured Streaming redelivers a micro-batch whose sink write ran but
whose checkpoint commit did not (a crash in between): delivery into a
sink is at-least-once.  A sink is exactly-once when writing the same
epoch twice leaves what writing it once leaves.  Each of the stream's
three sinks (the engine's results, stats and classifier tables) is an
:class:`EpochTable`: a local parquet directory partitioned by an integer
``epoch`` column, with a declared schema, and the only code that
touches its files.

On disk, for ``partition_by=["filter_id", "epoch", "date"]``::

    <path>/filter_id=<X>/epoch=<N>/date=<D>/part-*.parquet
    <path>.old, <path>.compact         only while a swap is in flight

The replay algorithm:

- **write** an epoch = drop every ``epoch=N`` directory (at its depth in
  ``partition_by``, so under every ``filter_id=`` directory, including
  those of filters deleted since the crashed attempt), then append.  A
  replay whose rows land in other partitions than the first attempt's
  (a hot-swapped filter set, a processing-time fallback crossing
  midnight, an empty replay) still replaces exactly its epoch.
- **rewrite** (retention, ring-buffer truncation) writes the new table
  to ``<path>.compact`` and swaps it in: live moves to ``.old``,
  ``.compact`` moves to live, ``.old`` is removed.  A crash at any step
  leaves a whole table at live or at ``.old``; every entry point heals
  that first, so no write lands in a fresh table beside a stranded one
  and no read misses it.  A rewrite keeps each row's ``epoch``, so a
  later redelivery still replaces exactly its own epoch.  A rewrite
  refuses to run beside an active stream, whose micro-batch committing
  between the read and the swap would be silently erased.

Reads are kept per file set.  A live tail polls one filter every 200 ms
while its files change once per micro-batch, so :meth:`read` hands back
the frame it built last for the same ``key`` for as long as the files
Spark would list stay the same: the key is the sorted (path, size) of
every data file under the read root, walked in Python with Spark's
listing rule (names starting with ``.``, and ``_`` names without ``=``,
are skipped).  A hit makes no py4j round trip, and a plan built on the
kept frame keeps its analysis and physical plan across collects.  Spark's
part files are uniquely named and never rewritten in place, so every
change a read must see (an epoch appended or replaced, a rewrite's swap,
a retention drop) changes the key, whoever makes it: a second engine, a
second process or a bare ``rmtree``.  A counter that this class bumps on
its own writes would miss all three.  The walk runs before Spark lists,
so a write racing a miss leaves a key older than the frame, and the next
read misses again rather than serving a frame without the new files.

Every step is a local filesystem call, so ``path`` must be a plain local
path: on a scheme-prefixed URI (``hdfs://``, ``s3a://``, even
``file://``) ``os.path`` sees a nonexistent relative path, and the drop
and the swap would be silent no-ops.  A cluster deployment swaps them
for the Hadoop FileSystem API or a transactional table format.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def _partition_dir(column: str, value: str) -> str:
    """The directory name Spark gives a partition value: ``column=value``
    with the characters of Hive's path escaping written as ``%XX``."""
    escaped = re.sub(
        r"[\x01-\x1f\"#%'*/:=?\\\x7f{\[\]^]",
        lambda m: f"%{ord(m.group()):02X}",
        value,
    )
    return f"{column}={escaped}"


def _data_files(root: str) -> tuple[tuple[str, int], ...]:
    """The sorted (path, size) of every file under ``root`` that Spark's
    file listing reads: it skips names starting with ``.``, and names
    starting with ``_`` unless they hold ``=`` (a partition directory)."""
    found, dirs = [], [root]
    while dirs:
        try:
            entries = list(os.scandir(dirs.pop()))
        except (FileNotFoundError, NotADirectoryError):
            continue  # dropped or swapped away meanwhile
        for e in entries:
            if e.name.startswith(".") or (
                e.name.startswith("_") and "=" not in e.name
            ):
                continue
            try:
                if e.is_dir():
                    dirs.append(e.path)
                else:
                    found.append((e.path, e.stat().st_size))
            except FileNotFoundError:
                continue
    return tuple(sorted(found))


class EpochTable:
    """One epoch-partitioned parquet table at a local ``path``.

    ``partition_by`` names the partition columns in directory order and
    includes ``epoch``.  ``schema`` (DDL text) is the declared schema
    every read names, partition columns included, so a read runs no
    schema-inference job."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: list[str],
        schema: str,
    ) -> None:
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
            raise ValueError(
                f"{path!r}: an epoch table is a local filesystem path — "
                "its epoch drops and swaps are local filesystem calls, "
                "which a scheme-prefixed URI (even file://) turns into "
                "silent no-ops, degrading replay to at-least-once "
                "duplication.  Use a plain local path."
            )
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self.schema = schema
        self._columns = [c.split()[0] for c in schema.split(",")]
        #: one slot per read key: (the file set, the frame read from it).
        #: Pollers on other threads share it without a lock: a slot is
        #: replaced whole, so a reader that loses a race only reads again.
        self._reads: dict[str | None, tuple[tuple, DataFrame]] = {}

    # -- sink ----------------------------------------------------------------

    def write(self, df: DataFrame, epoch: int) -> None:
        """Replace epoch ``epoch`` with ``df``'s rows (``df`` has every
        column but ``epoch``, which is added here): heal, drop every
        ``epoch=N`` directory, append.  A leftover ``_temporary`` is a
        dead writer's uncommitted output — this sink's writes run one at
        a time — which the append's job commit would otherwise merge in
        beside the replay's rows."""
        epoch = int(epoch)
        self._heal()
        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)
        for parent in self._parents("epoch"):
            stale = os.path.join(parent, f"epoch={epoch}")
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        (
            df.selectExpr("*", f"{epoch} AS epoch")
            .write.partitionBy(*self.partition_by)
            .mode("append")
            .parquet(self.path)
        )

    def read(self, key: str | None = None) -> DataFrame:
        """The table (or, for ``key``, the directory of that value of the
        first partition column alone: only its files are listed and
        read), healed first: the declared schema's columns in its order,
        and a typed empty frame when there is no data (before the first
        batch, after a purge).

        The same frame object comes back for as long as the key's file
        set is unchanged (see the module docstring); each key keeps one
        slot, replaced on the first read that finds other files."""
        self._heal()
        path = self.path
        if key is not None:
            path = os.path.join(path, _partition_dir(self.partition_by[0], key))
        files = _data_files(path)
        kept = self._reads.get(key)
        if kept is not None and kept[0] == files:
            return kept[1]
        if not files:
            df = self._empty()
        else:
            reader = self.spark.read.schema(self.schema)
            if key is not None:
                reader = reader.option("basePath", self.path)
            try:
                df = reader.parquet(path).select(*self._columns)
            except AnalysisException:
                # a swap moved the directory away after the walk: answer
                # empty, keep nothing
                return self._empty()
        self._reads[key] = (files, df)
        return df

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema)

    # -- maintenance -----------------------------------------------------------

    def rewrite(self, df: DataFrame) -> None:
        """Replace the table with ``df`` (built from :meth:`read`).
        No-op when the table does not exist."""
        self._require_quiesced()
        self._heal()
        if not os.path.isdir(self.path):
            return
        tmp = self.path + ".compact"
        df.write.partitionBy(*self.partition_by).mode("overwrite").parquet(tmp)
        old = self.path + ".old"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)

    def drop_before(self, column: str, bound) -> None:
        """Retention: drop every ``column=`` directory whose value is
        below ``bound`` (compared as ``bound``'s type), and each parent
        directory this empties, the table root excepted.  A partition
        drop: unlike a rewrite, it does not refuse beside a stream."""
        self._heal()
        for parent in self._parents(column):
            dropped = False
            for name in os.listdir(parent):
                if not name.startswith(column + "="):
                    continue
                try:
                    value = type(bound)(name.split("=", 1)[1])
                except ValueError:
                    continue
                if value < bound:
                    shutil.rmtree(os.path.join(parent, name))
                    dropped = True
            if dropped and parent != self.path:
                try:
                    os.rmdir(parent)
                except OSError:
                    pass  # still holds newer data

    # -- internals -------------------------------------------------------------

    def _parents(self, column: str) -> list[str]:
        """The directories holding ``column=`` directories: the table root
        for the first partition column, every directory of the level
        above otherwise."""
        dirs = [self.path] if os.path.isdir(self.path) else []
        for above in self.partition_by[: self.partition_by.index(column)]:
            dirs = [
                p
                for d in dirs
                for name in os.listdir(d)
                if name.startswith(above + "=")
                and os.path.isdir(p := os.path.join(d, name))
            ]
        return dirs

    def _heal(self) -> None:
        """Finish an interrupted swap: a table only at ``.old`` died
        between the two renames (restore it); one beside a live table
        died before the cleanup (remove it)."""
        old = self.path + ".old"
        if os.path.isdir(old):
            if os.path.isdir(self.path):
                shutil.rmtree(old)
            else:
                os.rename(old, self.path)

    def _require_quiesced(self) -> None:
        """Rewrites are read, write, swap over plain parquet: not
        transactional.  ``spark.streams.active`` sees the queries of this
        session only; a stream writing the same directory from another
        session or process is invisible here, so a multi-process
        deployment serializes its rewrites itself."""
        if self.spark.streams.active:
            raise RuntimeError(
                f"rewrite of {self.path}: stop streaming queries first — "
                "a micro-batch committing between the table read and the "
                "swap would be silently erased"
            )
