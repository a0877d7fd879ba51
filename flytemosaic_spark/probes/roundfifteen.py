"""Round-15 probes: PDF text extraction, duplicate-span REMOVAL
(winnowing apply), unicode normalization, txlog data skipping, and
crawl-frontier scheduling — the round-9 additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flytemosaic_spark.probes.registry import T, probe


@probe(
    "x248_pdf_extract",
    sql="""
        WITH keys AS (
            SELECT s_suppkey AS media_id, 1 + s_suppkey % 3 AS np
            FROM supplier
        ),
        pg AS (
            SELECT media_id,
                   unnest(generate_series(0, np - 1)) AS i
            FROM keys
        ),
        ln AS (
            SELECT media_id, i, 2 + (media_id + i) % 4 AS nl
            FROM pg
        ),
        ls AS (
            SELECT media_id, i,
                   unnest(generate_series(0, nl - 1)) AS j
            FROM ln
        ),
        lines AS (
            SELECT media_id, i, j,
                   repeat(chr(CAST(97 + (media_id + i * 2 + j * 3) % 26
                                   AS INT)),
                          4 + (media_id * 3 + i * 5 + j * 7) % 17) AS line
            FROM ls
        ),
        pages AS (
            SELECT media_id, i,
                   string_agg(line, chr(10) ORDER BY j) AS pt
            FROM lines
            GROUP BY media_id, i
        )
        SELECT media_id,
               CAST(count(*) AS INT) AS n_pages,
               sum(length(pt)) AS n_chars,
               md5(string_agg(pt, chr(12) ORDER BY i)) AS text_md5
        FROM pages
        GROUP BY media_id
    """,
    note="PDF text extraction in the gate (sources/pdf.py — "
    "dependency-free: classic xref tables AND cross-reference "
    "streams with PNG predictors, object streams, Flate/LZW/A85/AHx/"
    "RunLength filter chains, page-tree walk with inherited "
    "resources, BT/Tf/Td/TD/T*/Tm/Tj/'/\\\"/TJ content tokenizer, "
    "WinAnsi/Differences + ToUnicode CMap byte->unicode): executors "
    "write key-derived pages cycling ALL NINE encoder paths (incl. Type0 Identity-H CID "
    "2-byte codes) by key % 9 and extract back; the oracle "
    "reconstructs every page's "
    "exact text from the generating arithmetic and md5-hashes it — "
    "one wrong byte in any xref, filter, tokenizer, or encoding "
    "stage shifts text_md5. The reference's open-any-media seam "
    "(flytemosaic/datasets/utils.py:123-126) for the document "
    "modality. Payloads never shuffle; explicit repartition spreads "
    "the per-row codec work (the x222 AQE rule).",
)
def x248_pdf_extract(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.multimodal import (
        pdf_text_stats,
        synthesize_pdf,
    )

    keys = T(spark, sf, "supplier").select("s_suppkey")
    return pdf_text_stats(synthesize_pdf(keys))


@probe(
    "x249_winnow_apply",
    sql="""
        WITH d AS (SELECT doc_id, text AS t FROM documents),
        longdocs AS (
            SELECT doc_id, t FROM d WHERE length(t) >= 31
        ),
        hl AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, length(t) - 23),
                       i -> md5(substr(t, i, 24)) || ':'
                            || lpad(CAST(i AS VARCHAR), 7, '0')
                   ) AS hs
            FROM longdocs
        ),
        wl AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(hs) - 7),
                       i -> list_min(list_slice(hs, i, i + 7))
                   )) AS keys
            FROM hl
        ),
        fp AS (SELECT doc_id, unnest(keys) AS key FROM wl),
        keyed AS (
            SELECT doc_id,
                   substr(key, 1, 32) AS h,
                   CAST(substr(key, 34, 7) AS INT) AS pos,
                   lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':'
                       || substr(key, 34, 7) AS gk
            FROM fp
        ),
        firsts AS (SELECT h, min(gk) AS gk0 FROM keyed GROUP BY h),
        dup AS (
            SELECT doc_id, pos
            FROM keyed JOIN firsts USING (h)
            WHERE gk <> gk0
        ),
        spans AS (SELECT doc_id, pos AS s, pos + 23 AS e FROM dup),
        runp AS (
            SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_e
            FROM spans
        ),
        brks AS (
            SELECT doc_id, s, e,
                   CASE WHEN prev_e IS NULL OR s > prev_e + 1
                        THEN 1 ELSE 0 END AS brk
            FROM runp
        ),
        gids AS (
            SELECT doc_id, s, e,
                   sum(brk) OVER (PARTITION BY doc_id
                                  ORDER BY s) AS gid
            FROM brks
        ),
        merged AS (
            SELECT doc_id, gid, min(s) AS ms, max(e) AS me
            FROM gids GROUP BY doc_id, gid
        ),
        gaps AS (
            SELECT doc_id, ms, me,
                   lag(me, 1, 0) OVER (PARTITION BY doc_id
                                       ORDER BY ms) AS prev_e
            FROM merged
        ),
        pieces AS (
            SELECT g.doc_id,
                   string_agg(substr(d.t, prev_e + 1, ms - prev_e - 1),
                              '' ORDER BY ms) AS head,
                   max(me) AS last_e,
                   count(*) AS n_spans,
                   sum(me - ms + 1) AS n_removed
            FROM gaps g JOIN d USING (doc_id)
            GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(p.n_removed, 0) AS BIGINT) AS n_removed,
               CAST(length(CASE WHEN p.doc_id IS NULL THEN d.t
                    ELSE p.head || substr(d.t, p.last_e + 1) END)
                    AS BIGINT) AS n_chars_clean,
               md5(CASE WHEN p.doc_id IS NULL THEN d.t
                   ELSE p.head || substr(d.t, p.last_e + 1) END)
                   AS clean_md5
        FROM d LEFT JOIN pieces p USING (doc_id)
    """,
    note="Duplicate-span REMOVAL — the apply half of x241's winnowing "
    "(Lee et al. 2022 'Deduplicating Training Data' semantics, "
    "window-granular): every LATER copy of a duplicated passage >= 31 "
    "chars is cut from the emitted text at fingerprint-window "
    "boundaries, the globally FIRST occurrence survives verbatim; "
    "dedup pipelines ship this CLEANED corpus, not a dup_frac column. "
    "The oracle replays fingerprint selection, first-occurrence "
    "attribution, per-doc interval merge, and the gap-concatenation "
    "text rebuild entirely in SQL and md5-compares the cleaned "
    "string. Plan: linear explode -> h-window first marks (one "
    "pass) -> doc-partitioned interval merge -> ONE aggregate() fold "
    "rebuilding kept gaps (runtime fold, no expression-tree nesting) "
    "-> left join back (short/span-free docs pass through).",
)
def x249_winnow_apply(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.dedup import winnow_dedup_apply

    out = winnow_dedup_apply(T(spark, sf, "documents"))
    return out.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.length("clean_text").cast("long").alias("n_chars_clean"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


@probe(
    "x251_txlog_prune",
    sql="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                   AS sum_cents,
               1 AS pruned
        FROM part
        WHERE p_partkey >= 600 AND p_partkey <= 900
    """,
    note="Txlog DATA SKIPPING (sources/txlog.py): add actions carry "
    "per-file numRecords + per-column min/max from the parquet footer "
    "(metadata-scale, written at commit time); snapshot_files/"
    "read_snapshot take a (col, op, value) predicate and PRUNE files "
    "whose bounds prove no match before any data read — the Delta "
    "scale feature a 100 TB point lookup lives on. The probe builds a "
    "range-clustered table (one commit per disjoint p_partkey range), "
    "reads it under a range predicate, and emits the row count + "
    "exact cents sum (the oracle is the plain filter on part) plus a "
    "pruned flag asserting FEWER FILES than the full snapshot were "
    "opened (IO-spied in test_txlog.py too). Pre-stats checkpoints "
    "degrade to never-prune, conservatively correct.",
)
def x251_txlog_prune(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from flytemosaic_spark.sources import txlog

    part = T(spark, sf, "part").select("p_partkey", "p_retailprice")
    path = os.path.join(tempfile.mkdtemp(prefix="txlog_x251_"), "t")
    txlog.create_table(spark, path, part.where(F.col("p_partkey") <= 500))
    for lo, hi in [(500, 1000), (1000, 1500)]:
        txlog.append(
            spark,
            path,
            part.where(
                (F.col("p_partkey") > lo) & (F.col("p_partkey") <= hi)
            ),
        )
    txlog.append(spark, path, part.where(F.col("p_partkey") > 1500))
    pred = [("p_partkey", ">=", 600), ("p_partkey", "<=", 900)]
    n_all = len(txlog.snapshot_files(path))
    n_pred = len(txlog.snapshot_files(path, predicate=pred))
    out = (
        txlog.read_snapshot(spark, path, predicate=pred)
        .where((F.col("p_partkey") >= 600) & (F.col("p_partkey") <= 900))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("sum_cents"),
            F.lit(1 if n_pred < n_all else 0).alias("pruned"),
        )
    )
    schema = out.schema
    rows = out.collect()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@probe(
    "x252_txlog_cdf",
    sql="""
        WITH p AS (
            SELECT p_partkey AS k, p_retailprice AS pr FROM part
        ),
        snap2 AS (
            SELECT k,
                   CASE WHEN k % 6 = 0 THEN pr + 128.0 ELSE pr END AS pr
            FROM p
        ),
        changes AS (
            SELECT 1 AS version, 'insert' AS change_type, k, pr
            FROM p WHERE k % 3 = 1
            UNION ALL
            SELECT 2, 'insert', k, pr + 128.0 FROM p WHERE k % 6 = 0
            UNION ALL
            SELECT 2, 'insert', k, pr FROM p WHERE k % 3 = 2
            UNION ALL
            SELECT 2, 'delete', k, pr FROM p WHERE k % 6 = 0
            UNION ALL
            SELECT 3, 'delete', k, pr FROM snap2 WHERE k % 5 = 0
        )
        SELECT version, change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               sum(CAST(floor(pr * 100 + 0.5) AS BIGINT)) AS sum_cents
        FROM changes
        GROUP BY version, change_type
    """,
    note="Txlog CHANGE-DATA-FEED (sources/txlog.py:table_changes): "
    "row-level diffs per commit — files added minus files removed are "
    "inserts, the reverse deletes, so copy-on-write rewrites of "
    "unchanged rows CANCEL in the bag diff and only touched files are "
    "read. The probe replays x240's lifecycle (create, append, "
    "update+insert MERGE, tombstone MERGE) and aggregates the feed "
    "per (version, change_type); the oracle reconstructs every "
    "insert/delete row set from the generating arithmetic. Feeds the "
    "D2 incremental-consumer idiom: a downstream rollup applies the "
    "diff instead of re-reading the snapshot.",
)
def x252_txlog_cdf(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from flytemosaic_spark.sources import txlog

    part = T(spark, sf, "part").select("p_partkey", "p_retailprice")
    path = os.path.join(tempfile.mkdtemp(prefix="txlog_x252_"), "t")
    txlog.create_table(
        spark, path, part.where(F.col("p_partkey") % 3 == 0)
    )
    txlog.append(spark, path, part.where(F.col("p_partkey") % 3 == 1))
    upd = part.where(F.col("p_partkey") % 6 == 0).select(
        "p_partkey",
        (F.col("p_retailprice") + F.lit(128.0)).alias("p_retailprice"),
    )
    ins = part.where(F.col("p_partkey") % 3 == 2)
    txlog.merge_into(spark, path, upd.unionByName(ins), ["p_partkey"])
    snap2 = txlog.read_snapshot(spark, path, 2)
    tomb = snap2.where(F.col("p_partkey") % 5 == 0).withColumn(
        "dead", F.lit(True)
    )
    txlog.merge_into(spark, path, tomb, ["p_partkey"], delete_col="dead")
    out = (
        txlog.table_changes(spark, path, 0, 3)
        .groupBy(
            F.col("_commit_version").alias("version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("sum_cents"),
        )
    )
    schema = out.schema
    rows = out.collect()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@probe(
    "x250_unicode_normalize",
    sql="""
        WITH d AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                        WHEN 0 THEN 'cafe' || chr(769) || ' x'
                        WHEN 1 THEN chr(8203) || 'ab' || chr(8204)
                                    || 'cd' || chr(8205)
                        WHEN 2 THEN 'a' || chr(768) || 'e' || chr(769)
                                    || 'o' || chr(770)
                        WHEN 3 THEN 'tab' || chr(9) || 'nl' || chr(10)
                                    || chr(13) || 'end'
                        WHEN 4 THEN '  multi   space  '
                        ELSE 'plain' END || ' ' || text AS t
            FROM documents
        ),
        n AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           nfc_normalize(t),
                           '[\\x{200b}\\x{200c}\\x{200d}\\x{2060}'
                           || '\\x{feff}\\x{ad}'
                           || '\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                           '', 'g'),
                       '[ \\t\\n\\r]+', ' ', 'g')) AS nt
            FROM d
        )
        SELECT doc_id,
               CAST(length(nt) AS BIGINT) AS n_chars,
               md5(nt) AS norm_md5
        FROM n
    """,
    note="Unicode normalization + text hygiene "
    "(operators/crawl.py:normalize_text) — the stage between charset "
    "decode (x245) and the text family that CCNet/Dolma run before "
    "hashing, because un-normalized unicode silently breaks every "
    "md5-based dedup equality: NFC canonical composition (Arrow "
    "scalar UDF over unicodedata — Spark has no JVM normalizer; the "
    "one Python hop, vectorized), zero-width/soft-hyphen/BOM/control "
    "strip, and [ \\t\\n\\r]-run collapse + trim (JVM regexp_replace; "
    "the whitespace class is EXPLICIT because Java \\s and RE2 \\s "
    "disagree on \\x0B, and strip patterns anchor the Spark-replaces-"
    "ALL vs DuckDB-'g'-flag contract). Documents are augmented with "
    "key-cycled decomposed accents, zero-widths, and messy whitespace "
    "so every stage is exercised; the oracle replays the pipeline via "
    "DuckDB's native nfc_normalize and md5-compares the result.",
)
def x250_unicode_normalize(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.crawl import normalize_text

    # DECOMPOSED accents (e + U+0301 etc.) and explicit
    # zero-widths: the raw forms the NFC/strip stages must
    # actually transform (the oracle builds the same codepoints
    # via chr())
    pieces = [
        "cafe\u0301 x",
        "\u200bab\u200ccd\u200d",
        "a\u0300e\u0301o\u0302",
        "tab\tnl\n\rend",
        "  multi   space  ",
        "plain",
    ]
    d = T(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.element_at(
                F.array(*[F.lit(p) for p in pieces]),
                (F.col("doc_id") % 6 + 1).cast("int"),
            ),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    out = normalize_text(d)
    return out.select(
        "doc_id",
        F.length("norm_text").cast("long").alias("n_chars"),
        F.md5(F.col("norm_text").cast("binary")).alias("norm_md5"),
    )


@probe(
    "x253_frontier_schedule",
    sql="""
        WITH k AS (
            SELECT s_suppkey AS kk,
                   CAST(s_suppkey % 25 AS INT) AS hid
            FROM supplier
        ),
        urls AS (
            SELECT 'h' || CAST(hid AS VARCHAR) AS host,
                   hid, kk,
                   '/d' || CAST(kk % 4 AS VARCHAR) || '/p'
                       || lpad(CAST(kk AS VARCHAR), 8, '0') AS url
            FROM k
        ),
        allowed AS (
            SELECT host, url,
                   1 + hid % 7 AS delay_s
            FROM urls
            WHERE kk % 4 <> hid % 3
        ),
        seqd AS (
            SELECT host, url, delay_s,
                   row_number() OVER (PARTITION BY host ORDER BY url)
                       - 1 AS seq
            FROM allowed
        ),
        sched AS (
            SELECT host,
                   CAST(floor(seq / 4.0) AS INT) AS wave,
                   seq * delay_s AS eta_s
            FROM seqd
        )
        SELECT host, wave,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(max(eta_s) AS BIGINT) AS max_eta_s
        FROM sched
        GROUP BY host, wave
    """,
    note="Crawl-frontier SCHEDULING (operators/crawl.py:"
    "frontier_schedule) — the glue x244 (politeness) and x246 "
    "(incremental crawl) were missing: the frontier joins its hosts' "
    "robots.txt (broadcast, host-scale), one vectorized robotparser "
    "gate drops disallowed urls (parser memoized per distinct body, "
    "never per row; DISJOINT rule prefixes keep the verdicts "
    "implementation-independent), and each host's allowed urls get a "
    "deterministic url-sorted seq, a fetch wave (seq div batch), and "
    "the earliest polite eta (seq * crawl-delay) — a host with n "
    "allowed urls needs ceil(n/batch) waves and its wave makespan is "
    "max(eta). Host-partitioned window, no single-partition stage; "
    "the oracle replays gate + ranking + wave arithmetic entirely in "
    "SQL from the generating arithmetic.",
)
def x253_frontier_schedule(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.crawl import frontier_schedule

    keys = T(spark, sf, "supplier").select("s_suppkey")
    hid = (F.col("s_suppkey") % 25).cast("int")
    urls = keys.select(
        F.concat(F.lit("h"), hid.cast("string")).alias("host"),
        F.concat(
            F.lit("/d"),
            (F.col("s_suppkey") % 4).cast("string"),
            F.lit("/p"),
            F.lpad(F.col("s_suppkey").cast("string"), 8, "0"),
        ).alias("url"),
    )
    robots = (
        keys.select(hid.alias("hid"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias(
                "host"
            ),
            F.concat(
                F.lit("User-agent: *\nDisallow: /d"),
                (F.col("hid") % 3).cast("string"),
                F.lit("/\nCrawl-delay: "),
                (1 + F.col("hid") % 7).cast("string"),
                F.lit("\n"),
            ).alias("robots_txt"),
        )
    )
    sched = frontier_schedule(urls, robots, batch_size=4)
    return sched.groupBy("host", "wave").agg(
        F.count("*").alias("n_urls"),
        F.max("eta_s").alias("max_eta_s"),
    )


@probe(
    "x254_txlog_optimize",
    sql="""
        WITH p AS (
            SELECT p_partkey AS k,
                   p_partkey % 97 AS x,
                   (p_partkey * 31) % 89 AS y,
                   p_retailprice AS pr
            FROM part
        )
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN y >= 10 AND y < 30
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
               sum(CASE WHEN y >= 10 AND y < 30
                        THEN CAST(floor(pr * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS sum_cents
        FROM p
    """,
    note="Txlog OPTIMIZE + Z-ORDER (sources/txlog.py:optimize): "
    "bin-packing compaction rewrites small files unchanged (one "
    "OPTIMIZE commit; table_changes emits NOTHING — the add/remove "
    "bag diff cancels) and zorder_by range-partitions + sorts on a "
    "Morton-interleaved key so per-file min/max bounds tighten on "
    "EVERY listed column — multi-dimension data skipping, the layout "
    "step a 100 TB table needs before x251's pruning pays off. The "
    "probe runs the full lifecycle (create + appends fragmenting the "
    "table, OPTIMIZE with zorder on (y, x), stats-pruned read under "
    "a y-range predicate) and the oracle checks total and predicate "
    "row counts + the exact cents sum — the rewrite must be "
    "value-identical; actual file-count pruning is asserted in "
    "test_txlog.py where fixtures are deterministic.",
)
def x254_txlog_optimize(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from flytemosaic_spark.sources import txlog

    part = T(spark, sf, "part").select(
        F.col("p_partkey").alias("k"),
        (F.col("p_partkey") % 97).alias("x"),
        ((F.col("p_partkey") * 31) % 89).alias("y"),
        F.col("p_retailprice").alias("pr"),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="txlog_x254_"), "t")
    txlog.create_table(spark, path, part.where(F.col("k") % 3 == 0))
    txlog.append(spark, path, part.where(F.col("k") % 3 == 1))
    txlog.append(spark, path, part.where(F.col("k") % 3 == 2))
    txlog.optimize(spark, path, zorder_by=["y", "x"], target_files=12)
    pred = [("y", ">=", 10), ("y", "<", 30)]
    full = txlog.read_snapshot(spark, path)
    pruned = txlog.read_snapshot(spark, path, predicate=pred).where(
        (F.col("y") >= 10) & (F.col("y") < 30)
    )
    out = full.agg(F.count("*").alias("n_total")).crossJoin(
        pruned.agg(
            F.count("*").alias("n_pred"),
            F.sum(
                F.floor(F.col("pr") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("sum_cents"),
        )
    )
    schema = out.schema
    rows = out.collect()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@probe(
    "x255_avro_scan",
    sql="""
        WITH keys AS (
            SELECT s_suppkey AS media_id, 3 + s_suppkey % 5 AS nr
            FROM supplier
        ),
        recs AS (
            SELECT media_id,
                   unnest(generate_series(0, nr - 1)) AS i
            FROM keys
        )
        SELECT media_id,
               CAST(count(*) AS BIGINT) AS n_recs,
               CAST(sum(media_id * 100 + i) AS BIGINT) AS sum_id,
               CAST(sum((media_id * 7 + i * 3) % 100) AS BIGINT)
                   AS sum_q4,
               CAST(sum(i % 3) AS BIGINT) AS n_tags,
               CAST(sum(CASE WHEN (media_id + i) % 2 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_notes
        FROM recs
        GROUP BY media_id
    """,
    note="Avro OCF scan in the gate (sources/avro.py — pure-stdlib "
    "Object Container File codec per the public Avro 1.11 spec: "
    "zigzag varints, blocks with per-block sync-marker verify, "
    "null/deflate/snappy codecs — snappy native, via pyarrow, "
    "with the spec's CRC-32 suffix — records incl. "
    "nested/recursive, arrays, maps, unions, enums, fixed): "
    "executors write key-derived records cycling the three codecs by "
    "key % 3 and decode back; the oracle recomputes every field "
    "aggregate from the generating arithmetic (q is quarters — exact "
    "in binary doubles — so sum(q*4) is an exact integer). The "
    "Kafka-ecosystem interchange format joins CSV/JSON/ORC in the "
    "extension source family.",
)
def x255_avro_scan(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.multimodal import (
        avro_scan_stats,
        synthesize_avro,
    )

    keys = T(spark, sf, "supplier").select("s_suppkey")
    return avro_scan_stats(synthesize_avro(keys))


@probe(
    "x256_crawl_multiformat",
    sql="""
        WITH keys AS (
            SELECT s_suppkey AS media_id, 3 + s_suppkey % 5 AS n
            FROM supplier
        ),
        recs AS (
            SELECT media_id, unnest(generate_series(0, n - 1)) AS i
            FROM keys
        ),
        ok AS (
            SELECT media_id, i FROM recs
            WHERE (media_id + i) % 5 <> 0
        ),
        html_paras AS (
            SELECT media_id, i,
                   unnest(generate_series(0, 1 + (media_id + i) % 3))
                       AS j
            FROM ok WHERE (media_id + i) % 3 <> 0
        ),
        html_txt AS (
            SELECT media_id, i, 'html' AS fmt,
                   string_agg(
                       repeat('w', 8 + (media_id * 3 + i * 5 + j * 7)
                                       % 30) || '&',
                       ' ' ORDER BY j
                   ) AS nt
            FROM html_paras GROUP BY media_id, i
        ),
        pdf_lines AS (
            SELECT media_id, i,
                   unnest(generate_series(0, 1 + (media_id + i) % 3))
                       AS j
            FROM ok WHERE (media_id + i) % 3 = 0
        ),
        pdf_txt AS (
            SELECT media_id, i, 'pdf' AS fmt,
                   string_agg(
                       repeat(chr(CAST(97 + (media_id + i + j) % 26
                                       AS INT)),
                              5 + (media_id * 2 + i * 3 + j * 5) % 15),
                       ' ' ORDER BY j
                   ) AS nt
            FROM pdf_lines GROUP BY media_id, i
        ),
        docs AS (
            SELECT * FROM html_txt UNION ALL SELECT * FROM pdf_txt
        ),
        keyed AS (
            SELECT media_id, fmt, nt, md5(nt) AS h,
                   media_id * 16 + i AS k2
            FROM docs
        ),
        first AS (SELECT h, min(k2) AS k0 FROM keyed GROUP BY h)
        SELECT keyed.media_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN fmt = 'html' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_html,
               CAST(sum(CASE WHEN fmt = 'pdf' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pdf,
               CAST(sum(CASE WHEN k2 = k0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN k2 = k0 THEN length(nt) ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM keyed JOIN first USING (h)
        GROUP BY keyed.media_id
    """,
    note="MULTI-FORMAT crawl curation end to end — the composition "
    "the r9 pieces exist for: WARC shards carry BOTH text/html pages "
    "AND application/pdf documents; one fused task per shard parses "
    "the WARC, ROUTES each 200 response on its HTTP Content-Type "
    "(html -> main-content extraction, pdf -> sources/pdf.py text "
    "extraction), then the unicode-hygiene stage (x250) normalizes "
    "and a GLOBAL first-occurrence content dedup (h-partitioned "
    "min window, the x241 rule) keeps one copy per distinct text "
    "across shards AND formats. The oracle replays synthesis, both "
    "extractors, normalization (newline joins become single spaces), "
    "and dedup attribution entirely in SQL — one wrong byte in WARC "
    "parsing, HTML extraction, PDF xref/filter/tokenizer stages, or "
    "normalization shifts a count. The Common Crawl shape: "
    "shard-parallel extract, one hash agg, join back, per-shard "
    "rollup, no quadratic stage.",
)
def x256_crawl_multiformat(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from flytemosaic_spark.operators.crawl import normalize_text
    from flytemosaic_spark.operators.html import (
        synthesize_warc_mixed,
        warc_multiformat_pages,
    )

    keys = T(spark, sf, "supplier").select("s_suppkey")
    pages = warc_multiformat_pages(synthesize_warc_mixed(keys))
    norm = normalize_text(pages)
    keyed = norm.select(
        "media_id",
        "fmt",
        F.md5(F.col("norm_text").cast("binary")).alias("h"),
        F.length("norm_text").cast("long").alias("nchars"),
        (F.col("media_id") * 16 + F.col("rec_idx")).alias("k2"),
    )
    marked = keyed.withColumn(
        "k0", F.min("k2").over(Window.partitionBy("h"))
    )
    kept = (F.col("k2") == F.col("k0")).cast("long")
    return marked.groupBy("media_id").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("fmt") == "html").cast("long")).alias("n_html"),
        F.sum((F.col("fmt") == "pdf").cast("long")).alias("n_pdf"),
        F.sum(kept).alias("n_kept"),
        F.sum(
            F.when(F.col("k2") == F.col("k0"), F.col("nchars")).otherwise(
                F.lit(0)
            )
        ).alias("kept_chars"),
    )


def _unigram_dp_sql(max_len: int = 16, max_piece: int = 4) -> str:
    """Generate the oracle: seed-vocabulary replay + the Viterbi DP
    unrolled as MATERIALIZED CTE steps (each step references the
    previous accumulator ONCE — materialization keeps the chain
    linear, the k^iters rule in SQL form)."""
    steps = ["b0 AS MATERIALIZED (SELECT w, 0 AS i, 0 AS s, 0 AS n FROM words)"]
    union = ["SELECT * FROM b0"]
    for i in range(1, max_len + 1):
        steps.append(
            f"ball{i - 1} AS MATERIALIZED ("
            + " UNION ALL ".join(union)
            + ")"
        )
        steps.append(
            f"b{i} AS MATERIALIZED (\n"
            f"  SELECT c.w, {i} AS i,\n"
            "   max(struct_pack(s := b.s + c.su, j := c.j,"
            " n := b.n + 1)) AS m\n"
            f"  FROM cand c JOIN ball{i - 1} b"
            " ON b.w = c.w AND b.i = c.j\n"
            f"  WHERE c.i = {i}\n"
            "  GROUP BY c.w)"
        )
        union = [
            f"SELECT * FROM ball{i - 1}",
            f"SELECT w, i, m.s AS s, m.n AS n FROM b{i}",
        ]
    final = " UNION ALL ".join(union)
    return rf"""
        WITH toks AS (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ),
        words AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM toks
            WHERE length(w) BETWEEN 1 AND {max_len}
            GROUP BY w
        ),
        subs AS (
            SELECT substr(w.w, il.i, il.l) AS piece, sum(w.freq) AS c
            FROM words w,
                 LATERAL (
                     SELECT i, l
                     FROM generate_series(1, {max_len}) g(i),
                          generate_series(1, {max_piece}) h(l)
                     WHERE i <= length(w.w)
                       AND l <= length(w.w) - i + 1
                 ) il
            GROUP BY 1
        ),
        kept AS (
            SELECT piece, c FROM subs
            WHERE c >= 2 OR length(piece) = 1
        ),
        tot AS (SELECT sum(c) AS t FROM kept),
        pieces AS MATERIALIZED (
            SELECT piece,
                   CAST(floor(ln(CAST(c AS DOUBLE) / t) * 1000000
                              + 0.5) AS BIGINT) AS su
            FROM kept, tot
        ),
        cand AS MATERIALIZED (
            SELECT w.w, ij.i, ij.j, p.su
            FROM words w,
                 LATERAL (
                     SELECT i, j
                     FROM generate_series(1, {max_len}) g(i),
                          generate_series(0, {max_len - 1}) h(j)
                     WHERE i <= length(w.w)
                       AND j >= greatest(0, i - {max_piece})
                       AND j < i
                 ) ij,
                 pieces p
            WHERE p.piece = substr(w.w, ij.j + 1, ij.i - ij.j)
        ),
        {",".join(steps)},
        allb AS ({final})
        SELECT CAST(length(ww.w) AS INT) AS word_len,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ww.freq) AS BIGINT) AS total_freq,
               CAST(sum(ww.freq * a.s) AS BIGINT) AS cost_u,
               CAST(sum(ww.freq * a.n) AS BIGINT) AS total_pieces
        FROM allb a JOIN words ww
          ON a.w = ww.w AND a.i = length(ww.w)
        GROUP BY 1
    """


@probe(
    "x257_unigram_tokenize",
    sql=_unigram_dp_sql(),
    note="Unigram-LM tokenizer (operators/unigram.py — the "
    "SentencePiece/Kudo 2018 family, completing the tokenizer set "
    "next to BPE induction x123 + apply x235): seed vocabulary = "
    "occurrence-weighted substrings (<=4 chars) of the DISTINCT word "
    "frame with single-char fallback, ML scores in integer "
    "micro-nats (the x154 quantize-before-sum recipe), then per-word "
    "VITERBI segmentation maximizing the summed score with a "
    "deterministic (score, split)-max tie-break. The oracle replays "
    "seed counts, quantization, AND the whole DP — unrolled as "
    "MATERIALIZED CTE steps so each stage is evaluated once (the "
    "k^iters rule in SQL) — and compares per-word-length totals of "
    "segmentation cost and piece count; one wrong count, ulp, or DP "
    "transition shifts an integer. Scale: corpus touched once for "
    "word freqs; everything else is distinct-word scale with a "
    "node-scale broadcast model (the x235 discipline). CAVEAT: the "
    "engine caps the seed vocabulary at _SEED_VOCAB_CAP=1M "
    "multi-char pieces (lowest-count-first, renormalizing scores) "
    "and this oracle does NOT model the cap — EXACT depends on the "
    "test corpus staying under it (sf0.1 has ~200 pieces; a corpus "
    "bump that crosses 1M shifts scores BY DESIGN — extend the "
    "oracle with the count-threshold filter then, don't debug the "
    "engine).",
)
def x257_unigram_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.unigram import unigram_corpus_stats

    return unigram_corpus_stats(T(spark, sf, "documents"))


@probe(
    "x258_ece",
    sql="""
        WITH scored AS (
            SELECT ((l_partkey * 7 + l_suppkey * 13) % 1000) / 1000.0
                       AS score,
                   CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END AS y
            FROM lineitem
        ),
        binned AS (
            SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin, y,
                   CAST(floor(score * 1000 + 0.5) AS BIGINT) AS sk
            FROM scored
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(sk) AS BIGINT) AS conf_sum_k,
               CAST(abs(1000 * sum(y) - sum(sk)) AS BIGINT) AS ece_num
        FROM binned
        GROUP BY bin
    """,
    note="Expected calibration error (operators/metrics.py:ece_bins) "
    "— the reliability-diagram aggregate of every model-calibration "
    "report, completing the eval family next to x106 ROC and x217 "
    "isotonic recalibration: equal-width score bins each emit "
    "INTEGER stats (count, positives, quantized score sum) plus the "
    "ECE numerator |scale*n_pos - score_sum|, so "
    "ECE = sum(ece_num)/(scale*N) is exact rational arithmetic and "
    "the oracle needs NO float rounding contract. One scan + one "
    "10-row aggregation; flat at any scale.",
)
def x258_ece(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.metrics import ece_bins

    li = T(spark, sf, "lineitem").select(
        (
            ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 1000)
            / F.lit(1000.0)
        ).alias("score"),
        (F.col("l_orderkey") % 3 == 0).alias("y"),
    )
    return ece_bins(li, "score", "y")


@probe(
    "x259_readability",
    sql=r"""
        WITH d AS (
            SELECT doc_id, lower(text) AS t
            FROM documents WHERE trim(text) <> ''
        ),
        c AS (
            SELECT doc_id,
                   len(string_split_regex(trim(t), '\s+')) AS n_words,
                   len(regexp_extract_all(t, '[aeiouy]+')) AS n_syll,
                   greatest(1, len(regexp_extract_all(t, '[.!?]+')))
                       AS n_sent
            FROM d
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_syll AS BIGINT) AS n_syll,
               CAST(n_sent AS BIGINT) AS n_sent,
               floor((206.835
                      - 1.015 * (CAST(n_words AS DOUBLE)
                                 / CAST(n_sent AS DOUBLE))
                      - 84.6 * (CAST(n_syll AS DOUBLE)
                                / CAST(n_words AS DOUBLE)))
                     * 10000 + 0.5) / 10000 AS flesch
        FROM c
    """,
    note="Flesch reading-ease (operators/text.py:readability_scores) "
    "— the classic readability gate of corpus-quality pipelines, "
    "next to x9's heuristics and x154's LM score: syllables = "
    "vowel-group regex runs, sentences = terminal-punctuation runs "
    "(floored at 1), words = the x247 split contract; the oracle "
    "recomputes the integer counts AND the portable-rounded score "
    "(identical IEEE trees + the floor(x*10^k + 0.5) grain). One "
    "scan, no shuffle.",
)
def x259_readability(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.text import readability_scores

    return readability_scores(T(spark, sf, "documents"))
