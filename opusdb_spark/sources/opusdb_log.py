"""Reader (and fixture writer) for the reference's on-disk log format.

This is byte-level capability parity: a user of the reference can point
Spark at their existing opusdb log files and scan them as a DataFrame.
The format (reference log_mgr.clj:16-66, page.clj:16-38, pinned by
log_mgr_test.clj):

  - a log file is a sequence of fixed-size BLOCKS (file_mgr.clj block
    size; the reference's tests use 400);
  - bytes 0-3 of each block hold a big-endian int32 `boundary` — the
    offset of the most recently appended record (records fill the
    block BACKWARD from the end, log_mgr.clj:46-66);
  - a record at offset p is: int32 length, then `length` bytes
    (page.clj:16-28); the next-older record sits at p + 4 + length;
  - iteration stops when the offset reaches block size; a fresh block
    writes boundary = block_size (empty, log_mgr.clj:54-57);
  - the reference's Seqable scan walks blocks LAST→FIRST and records
    boundary→end, yielding newest→oldest (log_mgr.clj:15-32).

Chronological (append) order is therefore (block_index ASC,
offset DESC) — exposed as plain columns so a DataFrame `orderBy`
reconstructs either direction.

Spark integration is a Python DataSource (pyspark 4 custom source
API): each BLOCK is one InputPartition, so a recovery-style scan of a
multi-gigabyte log parallelizes block-wise with zero coordination —
the backward-fill layout makes every block self-delimiting (the very
property the reference exploits for single-boundary-int appends,
log_mgr.clj:60-65). LSNs are not in the file (the reference keeps
them in memory only, log_mgr.clj state atom) — consumers derive
sequence numbers from (block_index, offset).
"""

from __future__ import annotations

import glob
import os
import struct
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

DEFAULT_BLOCK_SIZE = 400


# --------------------------------------------------------- writer
def _empty_block(block_size: int) -> bytearray:
    """A fresh block: boundary = block_size (log_mgr.clj:54-57)."""
    b = bytearray(block_size)
    struct.pack_into(">i", b, 0, block_size)
    return b


def _fill(
    cur: bytearray, records: list[bytes], block_size: int
) -> list[bytearray]:
    """Backward-fill `records` into block `cur` exactly like the
    reference's append! (log_mgr.clj:46-66): int32 length prefix,
    boundary int at offset 0, a new block when the record plus both
    ints no longer fits. Returns `cur` and every block it opened."""
    blocks = [cur]
    for rec in records:
        need = len(rec) + 4
        pos = struct.unpack_from(">i", cur, 0)[0]
        # reference guard: `(< pos (+ bytes-needed 4))` — must leave
        # room for the record AND the 4-byte boundary slot
        if pos < need + 4:
            cur = _empty_block(block_size)
            blocks.append(cur)
            pos = block_size
        nxt = pos - need
        struct.pack_into(">i", cur, nxt, len(rec))
        cur[nxt + 4 : nxt + 4 + len(rec)] = rec
        struct.pack_into(">i", cur, 0, nxt)
    return blocks


def write_log(
    path: str, records: list[bytes], block_size: int = DEFAULT_BLOCK_SIZE
) -> None:
    """Write `records` to a fresh log file exactly like the reference's
    append!/flush! (log_mgr.clj:46-66), starting from one empty block."""
    blocks = _fill(_empty_block(block_size), records, block_size)
    with open(path, "wb") as f:
        for b in blocks:
            f.write(b)


def append_log(
    path: str, records: list[bytes], block_size: int = DEFAULT_BLOCK_SIZE
) -> None:
    """Reopen an existing log and continue appending — the
    make-log-mgr reopen path (log_mgr.clj:69-86: read the LAST block,
    resume backward fill from its boundary). Byte-for-byte equivalent
    to having written all records in one session, which the tests pin."""
    with open(path, "rb") as f:
        data = f.read()
    n_blocks = len(data) // block_size
    last = bytearray(data[(n_blocks - 1) * block_size :])
    blocks = _fill(last, records, block_size)
    with open(path, "r+b") as f:
        f.seek((n_blocks - 1) * block_size)
        for b in blocks:
            f.write(b)


def read_block(block: bytes, block_size: int) -> list[tuple[int, bytes]]:
    """All (offset, record) pairs of one block, boundary→end — i.e.
    newest→oldest, the reference's in-block scan (log_mgr.clj:24-31)."""
    out: list[tuple[int, bytes]] = []
    pos = struct.unpack_from(">i", block, 0)[0]
    while pos < block_size:
        (length,) = struct.unpack_from(">i", block, pos)
        out.append((pos, bytes(block[pos + 4 : pos + 4 + length])))
        pos += 4 + length
    return out


# ------------------------------------------------- Spark DataSource
def _parse_options(options) -> tuple[str, int]:
    """(path, block_size) from the reader/writer options; `path` is
    required."""
    path = options.get("path")
    if not path:
        raise ValueError("opusdb_log requires a path")
    return path, int(options.get("block_size", str(DEFAULT_BLOCK_SIZE)))


def _log_files(path: str) -> list[str]:
    """The `*.log` files of a directory (sorted), or `path` itself."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".log")
        )
    return [path]


class _BlockPartition(InputPartition):
    def __init__(self, path: str, index: int, block_size: int):
        self.path = path
        self.index = index
        self.block_size = block_size


class OpusdbLogReader(DataSourceReader):
    def __init__(self, options):
        self.path, self.block_size = _parse_options(options)

    def _files(self) -> list[str]:
        return _log_files(self.path)

    def partitions(self):
        # a missing path fails here (getsize): a batch scan of a log
        # that is not there is an error, not an empty table
        parts = []
        for path in self._files():
            n_blocks = os.path.getsize(path) // self.block_size
            parts.extend(
                _BlockPartition(path, i, self.block_size)
                for i in range(n_blocks)
            )
        return parts

    def read(self, partition: _BlockPartition):
        with open(partition.path, "rb") as f:
            f.seek(partition.index * partition.block_size)
            block = f.read(partition.block_size)
        fname = os.path.basename(partition.path)
        for offset, rec in read_block(block, partition.block_size):
            yield (fname, partition.index, offset, rec)


@dataclass
class _LogCommit(WriterCommitMessage):
    file: str
    tmp: str
    n_records: int


class OpusdbLogWriter(DataSourceWriter):
    """One log FILE per Spark partition — the distributed analog of the
    reference's single-writer boundary: appends within a file stay
    strictly sequential (one boundary int, log_mgr.clj:46-66) while
    partitions write independent files in parallel. The input row must
    carry a `record` binary (or string) column."""

    def __init__(self, options):
        self.path, self.block_size = _parse_options(options)
        # Job-unique tag baked into every attempt's temp name: the
        # writer is built ONCE on the driver per write job and
        # serialized to tasks, so all of this job's attempts share it —
        # and commit()'s orphan sweep can then target ONLY this job's
        # leftovers instead of racing a concurrent writer on the same
        # directory (deleting a live job's staged attempts would fail
        # its commit after its tasks succeeded).
        import uuid

        self.job_tag = uuid.uuid4().hex[:12]

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{pid:05d}.log")
        # Two-phase task commit: tasks write to an attempt-unique temp
        # name readers never pick up (readers glob *.log only), and
        # commit() atomically renames the ONE winning attempt per
        # partition into place. A task that dies mid-write — or a
        # speculative duplicate attempt — can therefore never leave a
        # torn or half-visible part-*.log (ADVICE r4: the previous
        # in-place write made a crashed task's partial file
        # indistinguishable from a committed one).
        tmp = f"{out}.tmp-{self.job_tag}-{ctx.taskAttemptId()}"
        recs = []
        for row in iterator:
            rec = row["record"]
            if isinstance(rec, str):
                rec = rec.encode()
            recs.append(bytes(rec))
        write_log(tmp, recs, self.block_size)
        return _LogCommit(file=out, tmp=tmp, n_records=len(recs))

    def commit(self, messages):
        # Fail ATOMICALLY: verify every winning attempt's temp file
        # exists before renaming ANY. If one is missing (e.g. a
        # foreign sweep reaped it), raising here leaves the sink fully
        # in its pre-commit state instead of half-renamed — the
        # all-or-nothing job-commit contract the two-phase design
        # promises. (Per-rename I/O errors mid-loop remain possible —
        # POSIX has no multi-file rename transaction — but the only
        # failure mode observed in practice is a missing tmp, and that
        # one is now checked up front.)
        staged = [m for m in messages if m is not None]
        missing = [m.tmp for m in staged if not os.path.exists(m.tmp)]
        if missing:
            raise FileNotFoundError(
                f"opusdb_log commit aborted, {len(missing)} staged "
                f"attempt(s) vanished before rename (first: "
                f"{missing[0]}); sink left untouched"
            )
        for m in staged:
            os.replace(m.tmp, m.file)  # atomic on POSIX
        # Losing speculative / failed attempts never reach `messages`
        # (only delivered commit messages do), so their attempt-unique
        # temp files would otherwise accumulate forever: readers skip
        # them, but overwrites never purge them (ADVICE r6). Sweep is
        # scoped to THIS job's tag — a surviving *.tmp-<job_tag>-* is
        # by definition an orphan of this job, while an unrelated tag
        # may be another writer's still-staged attempt and must stay.
        # Crash leftovers of jobs that never reached commit() are also
        # reaped, but only once they are unambiguously stale: the
        # horizon must exceed any plausible JOB duration, not just
        # task-commit-to-job-commit (a straggler-heavy concurrent job
        # can stage its first tmps hours before its commit; reaping
        # one would make that commit's up-front existence check fail
        # the whole job). 24 h is past any batch job this sink serves;
        # a deployment with longer jobs should disable this and reap
        # via an explicit maintenance sweep instead.
        import time

        for orphan in glob.glob(
            os.path.join(self.path, f"*.log.tmp-{self.job_tag}-*")
        ):
            try:
                os.remove(orphan)
            except OSError:
                pass  # concurrent cleanup / already gone
        cutoff = time.time() - 24 * 3600
        for stale in glob.glob(os.path.join(self.path, "*.log.tmp-*")):
            try:
                if os.path.getmtime(stale) < cutoff:
                    os.remove(stale)
            except OSError:
                pass

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


def _file_state(path: str, block_size: int) -> list[int]:
    """Current consume frontier of one log file: [n_blocks, boundary of
    the last block]. A complete block never changes after its flush, so
    (n_blocks, boundary) fully determines which records exist."""
    n_blocks = os.path.getsize(path) // block_size
    with open(path, "rb") as f:
        f.seek((n_blocks - 1) * block_size)
        (bd,) = struct.unpack(">i", f.read(4))
    return [n_blocks, bd]


class OpusdbLogStreamReader(SimpleDataSourceStreamReader):
    """Tail the append-only log as a Structured Streaming source.

    The stream offset is {file: [n_blocks, boundary]} — because records
    backward-fill, everything NEW since an offset is (a) records in the
    then-last block at offsets BELOW the recorded boundary, plus (b)
    every record in later blocks. This is exactly the incremental
    recovery scan the reference's layout was designed for
    (log_mgr.clj:15-32) — replication/tailing without record markers."""

    def __init__(self, options):
        self.path, self.block_size = _parse_options(options)

    def _files(self) -> list[str]:
        # a log not created yet is an empty stream, not an error
        return _log_files(self.path) if os.path.exists(self.path) else []

    def initialOffset(self) -> dict:
        return {}

    def read(self, start: dict):
        end = {
            os.path.basename(p): _file_state(p, self.block_size)
            for p in self._files()
        }
        rows = list(self._between(start, end))
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._between(start, end)))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; offsets are pure positions

    def _between(self, start: dict, end: dict):
        by_name = {os.path.basename(p): p for p in self._files()}
        for fname in sorted(end):
            e_nb, e_bd = end[fname]
            s_nb, s_bd = start.get(fname, [0, self.block_size])
            path = by_name.get(fname)
            if path is None:
                continue
            with open(path, "rb") as f:
                for idx in range(max(0, s_nb - 1), e_nb):
                    f.seek(idx * self.block_size)
                    block = f.read(self.block_size)
                    for off, rec in read_block(block, self.block_size):
                        consumed = idx < s_nb - 1 or (
                            idx == s_nb - 1 and off >= s_bd
                        )
                        # the file may have advanced past `end` while we
                        # read — emit nothing beyond the end frontier
                        present = idx < e_nb - 1 or (
                            idx == e_nb - 1 and off >= e_bd
                        )
                        if present and not consumed:
                            yield (fname, idx, off, rec)


class OpusdbLogDataSource(DataSource):
    """spark.read.format("opusdb_log").option("path", ...) — one
    partition per (file, block); chronological order within a file =
    (block_index ASC, offset DESC). Writes via
    df.write.format("opusdb_log"): one log file per partition.
    spark.readStream tails the log incrementally (offsets =
    (n_blocks, boundary) per file)."""

    @classmethod
    def name(cls) -> str:
        return "opusdb_log"

    def schema(self) -> str:
        return "file string, block_index int, offset int, record binary"

    def reader(self, schema) -> OpusdbLogReader:
        return OpusdbLogReader(self.options)

    def writer(self, schema, overwrite: bool) -> OpusdbLogWriter:
        return OpusdbLogWriter(self.options)

    def simpleStreamReader(self, schema) -> OpusdbLogStreamReader:
        return OpusdbLogStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the format with a session."""
    spark.dataSource.register(OpusdbLogDataSource)
