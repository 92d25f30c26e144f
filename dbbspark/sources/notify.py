"""Stage-in scan + notify-file parsing (SURVEY.md §2.1 S1/S3/S4).

The reference scans a notify directory, strips the ``.dbb`` suffix to find
each notification's data file, and processes pairs in mtime (delivery)
order, parsing ``key = value`` notify lines into a per-file dict
(`bin/save_DBB_stagein_to_DBB.py:308-321`, `:49-56`). Here the scan is a
`binaryFile` read (path/modificationTime/length/content columns), the
pairing is an equi-join on the suffix-stripped path, and the kv parse is
`str_to_map` over the decoded bytes — all JVM-side, no Python loop.

Scale notes (100 TB / millions of files):
- file listing is distributed (InMemoryFileIndex lists in parallel tasks);
- notify files are tiny → their side of the pair join broadcasts;
- data-file *content* is only materialized for rows that survive the
  pairing filter, because `binaryFile` supports column pruning — plans
  that don't touch `content` never read the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import utf8_text

NOTIFY_SUFFIX = ".dbb"

# key = value lines; keys lowercased (bin/save_DBB_stagein_to_DBB.py:49-56).
_KV_LINE = r"(?m)^\s*(\S+)\s*=\s*(.*?)\s*$"


def _kv_map_col(text_col: F.Column) -> F.Column:
    """Parse ``key = value`` text into map<string,string> with lowercased
    keys, LAST occurrence winning — the semantics of the reference's
    per-file dict parse (bin/save_DBB_stagein_to_DBB.py:49-56).

    Deliberately avoids `str_to_map` / `map_from_arrays`: under Spark's
    default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` a notify file that
    repeats a key (or has two keys differing only by case, collapsed by
    lower()) would throw DUPLICATED_MAP_KEY and fail the WHOLE micro-batch
    — one malformed file must classify/quarantine, never crash the batch.
    Entries are deduped (keep-last) before `map_from_entries`, so the map
    build can't see a duplicate under any dedup policy. The keep-last scan
    is O(lines²) interpreted-lambda work per file — notify files are a
    handful of lines, and this runs once per file, not per query."""
    lines = F.filter(
        F.split(text_col, "\n"),
        lambda ln: (F.trim(ln) != "")
        & ~F.trim(ln).startswith("#")
        & ln.contains("="),
    )
    entries = F.transform(
        lines,
        lambda ln: F.struct(
            # key = before first '=', value = after it (split("=", 1)).
            F.lower(F.trim(F.substring_index(ln, "=", 1))).alias("key"),
            F.trim(F.regexp_replace(ln, r"^[^=]*=", "")).alias("value"),
        ),
    )
    last_wins = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    return F.map_from_entries(last_wins)


def parse_config_text(spark: SparkSession, path: str) -> dict[str, str]:
    """Config source (S3): ``key = value`` file → driver-side dict.

    Config is plan-time input (it parameterizes the pipeline), so a
    driver-side read is correct — it never scales with data volume.
    """
    out: dict[str, str] = {}
    for row in spark.read.text(path).collect():
        line = row["value"].strip()
        if not line or line.startswith("#"):
            continue
        if "=" in line:
            k, v = line.split("=", 1)
            out[k.strip().lower()] = v.strip()
    return out


def parse_notify_binary(df: DataFrame) -> DataFrame:
    """Turn raw binaryFile rows (path/modificationTime/length/content) of
    ``*.dbb`` files into parsed notify records. Shared by the batch scan
    and the streaming front-end's micro-batches."""
    notify = df.select(
        F.col("path").alias("notify_path"),
        F.col("modificationTime").alias("delivery_ts"),
        _kv_map_col(utf8_text("content")).alias("notify"),
    )
    return notify.withColumn(
        "data_name",
        F.element_at(
            F.split(
                F.regexp_replace("notify_path", NOTIFY_SUFFIX.replace(".", r"\.") + "$", ""),
                "/",
            ),
            -1,
        ),
    ).withColumn("declared_md5", F.col("notify").getItem("md5sum"))


def read_notify_dir(spark: SparkSession, notify_dir: str) -> DataFrame:
    """Notify-file source (S4): one row per ``*.dbb`` file with the parsed
    kv map and the delivery timestamp (file mtime = arrival order,
    `bin/save_DBB_stagein_to_DBB.py:316`)."""
    return parse_notify_binary(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{NOTIFY_SUFFIX}")
        .load(notify_dir)
    )


def read_stagein_pairs(
    spark: SparkSession,
    notify_dir: str,
    delivery_dir: str,
    notify_df: DataFrame | None = None,
) -> DataFrame:
    """Notify-dir scan + pairing (S1): join each notify record to its data
    file by basename; keep notify rows whose data file is missing (NULL
    data columns — routed to quarantine downstream, mirroring the skip at
    `bin/save_DBB_stagein_to_DBB.py:143-149`).

    Delivery order (`orderBy mtime`, ref `:316`) is not imposed here: the
    set-oriented pipeline processes the whole batch atomically, so arrival
    order only matters to the streaming front-end's trigger, not to
    per-row work.
    """
    notify = notify_df if notify_df is not None else read_notify_dir(spark, notify_dir)
    data = (
        spark.read.format("binaryFile")
        .load(delivery_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("data_name"),
            F.col("path").alias("data_path"),
            F.col("length").alias("filesize"),
            F.col("content"),
        )
    )
    # Notify side is tiny rows (kv text); data side carries the bytes. A
    # left-outer join preserving notify can't broadcast-build the notify
    # side (Spark would fall back to shuffling the byte-carrying data side),
    # so: broadcast INNER join for matched pairs + broadcast anti-join for
    # notify rows whose data file is missing — the data bytes never shuffle.
    # CAVEAT: Spark's binaryFile source does not list 0-byte files, so an
    # EMPTY notify file is invisible here — its data file stays unpicked.
    # `unnotified_data_files` surfaces those (plus not-yet-notified files)
    # as a monitoring diagnostic instead of silently losing them.
    matched = data.join(F.broadcast(notify), "data_name", "inner")
    missing = (
        notify.join(
            F.broadcast(data.select("data_name")), "data_name", "left_anti"
        )
        .withColumn("data_path", F.lit(None).cast("string"))
        .withColumn("filesize", F.lit(None).cast("long"))
        .withColumn("content", F.lit(None).cast("binary"))
    )
    return matched.select(*sorted(matched.columns)).unionByName(
        missing.select(*sorted(missing.columns))
    )


def unnotified_data_files(
    spark: SparkSession, notify_dir: str, delivery_dir: str
) -> DataFrame:
    """Data files with no visible notify record — either not yet notified
    (normal in-flight state, ST2) or notified by a 0-byte file the
    binaryFile source cannot see (see CAVEAT above). A monitor query, not
    part of the ingest path; names-only anti-join, no bytes read."""
    notify_names = read_notify_dir(spark, notify_dir).select("data_name")
    data_names = (
        spark.read.format("binaryFile")
        .load(delivery_dir)
        .select(F.element_at(F.split("path", "/"), -1).alias("data_name"))
    )
    return data_names.join(F.broadcast(notify_names), "data_name", "left_anti")
