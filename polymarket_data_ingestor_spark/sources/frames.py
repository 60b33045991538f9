"""Frame-log scan + feed-message decode (SURVEY §2.1 S5, §2.2 F3/F4, §2.8 C8).

The reference reads hourly ``YYYY-MM-DD-HH.jsonl.zst`` files line by line
(``cli/src/tick_generator.rs:164-195``) and relies on file order + line order
as the replay ordering contract (``cli/src/file_reader.rs:46-50``). Spark
reads preserve line order *within* a file split but give no global order, so
this module materializes the contract as explicit sort-key columns:

* ``file_hour`` — the hour bucket parsed from the file name (lexicographic ==
  chronological, same as the reference's filename sort);
* ``line_id`` — for flat collector files, ``monotonically_increasing_id()``,
  which increases with line order inside each file because (a) ``.zst`` is a
  non-splittable codec, so a compressed file is always a single read stream,
  and (b) for splittable plain ``.jsonl``, a file's splits are planned in
  offset order so partition index (the id's high bits) increases with offset.
  The multi-split case is the default, not an edge: ``get_spark`` sets a
  256 KB file open cost, so a plain hour log bigger than about 1/cores of
  the scanned bytes (the collector's busiest hour, say) is read by several
  tasks. For the streaming sink's ``hour=*/part-*`` layout, the sink's
  persisted batch-major ``seq`` (falling back to ``unix_micros(timestamp)`` for
  pre-``seq`` lakes — see :func:`read_frames`). ``line_id`` values are
  sparse; only their order within a ``file_hour`` is meaningful.
* ``msg_idx`` — position of a feed message inside its frame's content array
  (``posexplode``).

Per-asset replay order is then ``(file_hour, line_id, msg_idx)`` — carried as
columns through the shuffle into the stateful kernel (SURVEY §4 "total order
contract").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.schemas import (
    FEED_MESSAGE_ARRAY_SCHEMA,
    FRAME_SCHEMA,
)

#: Regex capturing the hour bucket from a log file name
#: (``collector/src/main.rs:132-135`` naming; parsed back in
#: ``cli/src/file_reader.rs:53-73``).
_FILE_HOUR_RE = r"(\d{4}-\d{2}-\d{2}-\d{2})\.jsonl(\.zst|\.gz)?$"
#: The streaming frame sink's partition layout
#: (``live.py::write_frames_stream`` -> ``hour=<hour>/part-...``).
_HOUR_DIR_RE = r"hour=(\d{4}-\d{2}-\d{2}-\d{2})/[^/]*$"


def file_hour_col():
    """Hour ordering key from the input file name — accepts BOTH frame
    lake layouts: the collector's flat ``<hour>.jsonl[.zst|.gz]`` naming
    and the streaming sink's ``hour=<hour>/part-*`` partition dirs.
    Without the second form, frames written by
    :func:`...streaming.live.write_frames_stream` read back with
    ``file_hour = ''`` and batch replay silently loses its cross-hour
    ordering key — books rebuilt from size-planned split order instead
    of log order (review finding, closed here for every reader at
    once)."""
    flat = F.regexp_extract(F.input_file_name(), _FILE_HOUR_RE, 1)
    part = F.regexp_extract(F.input_file_name(), _HOUR_DIR_RE, 1)
    return F.when(flat != "", flat).otherwise(part)


def read_frames(
    spark: SparkSession,
    paths: Sequence[str] | str,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Scan framed JSONL logs into a frames DataFrame with order columns.

    Columns: ``timestamp, message_type, content, file_hour, line_id``.
    Accepts ``.jsonl`` and ``.jsonl.zst`` (Spark decodes zstd natively).

    ``keep_corrupt=True`` adds a ``corrupt_record`` column holding the raw
    text of unparseable lines (PERMISSIVE mode otherwise drops them
    silently — at 100 TB you want the reject rate observable). Spark
    disallows aggregates whose referenced columns are *only* the corrupt
    column (``QUERY_ONLY_CORRUPT_RECORD_COLUMN``), so quarantine by
    *writing* the filtered rejects (all columns) to a sink — or ``cache()``
    first — rather than calling ``count()`` directly on the filter.
    """
    if isinstance(paths, str):
        paths = [paths]
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # the read schema carries the streaming sink's optional ``seq``
    # column (NULL in flat collector files, which never wrote one)
    fields = list(FRAME_SCHEMA.fields) + [
        StructField("seq", LongType(), True)
    ]
    reader = spark.read
    if keep_corrupt:
        fields.append(StructField("corrupt_record", StringType(), True))
        reader = reader.option("columnNameOfCorruptRecord", "corrupt_record")
    df = reader.schema(StructType(fields)).json(list(paths))
    # line_id — the within-hour ordering key — is layout-dependent:
    #
    # * flat collector files (<hour>.jsonl): monotonically_increasing_id
    #   preserves line order within the single file's splits;
    # * the streaming sink's hour=<hour>/part-* layout: an hour dir
    #   holds one part file PER MICRO-BATCH, and Spark plans splits by
    #   SIZE (descending), so a larger later-batch file can take lower
    #   id ranges than a smaller earlier one — an older book snapshot
    #   would replay after newer deltas (review finding; the cross-FILE
    #   form of the bug file_hour_col closed). There the ordering key
    #   is, in preference order (r13 advisor — the timestamp alone is
    #   not a total order):
    #
    #   1. the sink's PERSISTED ``seq`` (batch-major arrival order,
    #      write_frames_stream) — a total order that is byte-stable
    #      across replays because it lives in the data, not in read-time
    #      split planning;
    #   2. ``unix_micros(timestamp)`` for lakes written before ``seq``
    #      existed — monotone per collector, but same-ms bursts keep
    #      only a DETERMINISTIC-FOR-A-FIXED-LAKE relative order (gzip
    #      part files are single-split, so within a file the tie order
    #      is line order; across files it follows Spark's size-ordered
    #      split planning). Documented residual nondeterminism: adding
    #      or rewriting files can reorder cross-file same-ms ties;
    #   3. ``monotonically_increasing_id()`` when the timestamp is NULL
    #      or unparseable — such frames sort FIRST within their hour
    #      (mono ids are ~2^33-scale, micros ~2^50-scale) instead of
    #      the undefined NULL placement the advisor flagged.
    #
    # Mixing a flat file and an hour dir FOR THE SAME HOUR in one read
    # would compare the two key kinds and is unsupported (the CLI's
    # duplicate-hour dedup refuses sibling files already).
    part_layout = F.regexp_extract(
        F.input_file_name(), _HOUR_DIR_RE, 1
    ) != ""
    return df.select(
        *[c for c in df.columns if c != "seq"],
        file_hour_col().alias("file_hour"),
        F.when(
            part_layout,
            F.coalesce(
                F.col("seq"),
                F.unix_micros(F.try_to_timestamp("timestamp")),
                F.monotonically_increasing_id(),
            ),
        )
        .otherwise(F.monotonically_increasing_id())
        .alias("line_id"),
    )


def parse_feed_messages(frames: DataFrame) -> DataFrame:
    """Decode feed frames into one row per inner feed message.

    Applies the reference's frame filter — keep ``message_type ==
    "feed_message"`` whose content is not the literal ``"PONG"``
    (``cli/src/tick_generator.rs:179-185``) — then undoes the double JSON
    encoding (content is a string-encoded JSON *array* of messages,
    ``tick_generator.rs:370-377``) and explodes with position.

    Output: the FEED_MESSAGE_SCHEMA fields plus ``file_hour, line_id,
    msg_idx``. Unknown ``event_type`` values survive here (they parse to rows
    with null variant fields) and are dropped by the replay kernel, matching
    serde's ``#[serde(other)]`` ignore (``tick_generator.rs:391-392``).
    """
    feed = frames.filter(
        (F.col("message_type") == "feed_message") & (F.col("content") != "PONG")
    )
    parsed = feed.select(
        "file_hour",
        "line_id",
        F.from_json("content", FEED_MESSAGE_ARRAY_SCHEMA).alias("msgs"),
    )
    exploded = parsed.select(
        "file_hour",
        "line_id",
        F.posexplode_outer("msgs").alias("msg_idx", "msg"),
    ).filter(F.col("msg").isNotNull())
    return exploded.select("file_hour", "line_id", "msg_idx", "msg.*")


def frames_quality_report(
    spark: SparkSession, paths: Sequence[str] | str
) -> DataFrame:
    """Per-file ingest quality report: line counts, malformed-line
    counts, and frame-type mix — the observable reject rate the silent
    PERMISSIVE drop in :func:`read_frames` hides.

    A line is ``malformed`` when it is not a JSON object carrying at
    least one of the frame's identifying fields (``from_json`` returns
    NULL for non-JSON; a JSON object with neither ``timestamp`` nor
    ``message_type`` is junk in a frame log even if it parses). Blank
    lines are counted separately — log rotation can legitimately leave
    a trailing newline and that's not corruption.

    Implemented over a raw text scan + ``from_json`` so no
    corrupt-record column is involved (Spark restricts aggregates that
    reference only the internal corrupt column; this path has no such
    trap and needs no cache()). One scan, one tiny groupBy on the
    file bucket — run it on the same pass cadence as ingestion
    monitoring, it costs a single read of the logs.
    """
    if isinstance(paths, str):
        paths = [paths]
    hour = file_hour_col()
    parsed = spark.read.text(list(paths)).select(
        # files not named by the hour convention keep their own row
        # (keyed by full path) instead of all merging into one '' group
        # — the same ''-merge trap the replay gate regex note calls out
        F.coalesce(
            F.nullif(hour, F.lit("")), F.input_file_name()
        ).alias("file_hour"),
        F.col("value"),
        F.from_json("value", FRAME_SCHEMA).alias("__f"),
    )
    blank = F.length(F.trim(F.col("value"))) == 0
    malformed = (
        ~blank
        & (
            F.col("__f").isNull()
            | (
                F.col("__f.timestamp").isNull()
                & F.col("__f.message_type").isNull()
            )
        )
    )
    is_pong = F.col("__f.content") == "PONG"
    is_feed = (F.col("__f.message_type") == "feed_message") & ~is_pong
    n_lines = F.count(F.lit(1))
    n_malformed = F.sum(malformed.cast("long"))
    return parsed.groupBy("file_hour").agg(
        n_lines.alias("n_lines"),
        F.sum(blank.cast("long")).alias("n_blank"),
        n_malformed.alias("n_malformed"),
        F.sum(is_feed.cast("long")).alias("n_feed"),
        F.sum(is_pong.cast("long")).alias("n_pong"),
        (n_malformed.cast("double") / n_lines).alias("malformed_share"),
    )
