"""Source/sink surface: every way data enters or leaves the engine.

The reference's I/O surface is block files read/written through a file
manager (file_mgr.clj:58-100) and an append-only log (log_mgr.clj:46-66);
here the equivalents are format readers with enforced schemas and
append/partitioned parquet sinks, plus the streaming file source in
opusdb_spark/streaming/jobs.py.
"""

from opusdb_spark.sources.formats import (  # noqa: F401
    corpus_store,
    read_csv,
    read_json,
    read_store,
    scratch_sink,
    write_partitioned,
)
from opusdb_spark.tables import table, register_views  # noqa: F401
