package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal copy-on-write table format: the transactional target behind native
  * MERGE / UPDATE / DELETE (SURVEY.md §2.1; reference:
  * core/trino-main/src/main/java/io/trino/operator/MergeWriterOperator.java:48,
  * split/MergeProcessor — the reference mutates through connector-provided
  * transactional formats; this is that format, built Spark-first in the spirit
  * of the public Delta/Iceberg designs: immutable data files + versioned
  * manifests, commit = atomic manifest publish).
  *
  * Layout:
  * {{{
  *   <root>/data/part-<uuid>.parquet        immutable data files
  *   <root>/_manifests/v<N>/                parquet manifest {path} of snapshot N
  *   <root>/_manifests/CURRENT              latest version number
  * }}}
  *
  * Semantics:
  *  - Readers resolve a snapshot (latest or time-travel) and read ONLY its
  *    files — writers never mutate published files, so concurrent readers keep
  *    a consistent view (snapshot isolation for reads).
  *  - DELETE/UPDATE/MERGE are copy-on-write: the affected-file set is located
  *    with an `input_file_name()` probe (parquet pushdown makes the probe a
  *    pruned scan); only those files are rewritten, every other file is
  *    carried into the new manifest untouched — at 100 TB a point-ish MERGE
  *    rewrites a handful of files, not the table.
  *  - Manifests are PARQUET DATASETS and the untouched-file set is computed as
  *    a DataFrame ANTI-JOIN of manifest × probe (file identity = the unique
  *    part-<uuid> name), so a million-file manifest never materializes on the
  *    driver during a mutation — the Iceberg-manifest shape. The only driver
  *    lists are (a) the AFFECTED files (bounded by mutation locality — they
  *    are about to be re-read anyway) and (b) scan planning in `read`, which
  *    any file-based source performs.
  *  - Commit is last-writer-wins via atomic CURRENT replace (single-writer
  *    discipline; the reference delegates the same concern to its connectors).
  */
final class CowTable private (root0: String, spark: SparkSession) {
  import CowTable._

  /** Absolute root: manifest paths must textually match the normalized
    * `input_file_name()` URIs used for copy-on-write file pruning. */
  val root: String = Paths.get(root0).toAbsolutePath.normalize.toString

  private def dataDir = Paths.get(root, "data")
  private def manifestDir = Paths.get(root, "_manifests")

  /** Hive-style partition columns, fixed at CREATE (reference: connector
    * `partitioned_by` table property, e.g. plugin/trino-hive
    * HiveTableProperties). Data files live under `data/col=value/…`; reads
    * pass the explicit snapshot file list WITH basePath, so Catalyst
    * recovers the partition columns and applies PartitionFilters — a
    * predicate on a partition column prunes whole directories of a 100-TB
    * table before any parquet footer is touched. */
  val partitioning: Seq[String] = {
    val f = Paths.get(root, "_partitioning")
    if (Files.exists(f))
      new String(Files.readAllBytes(f)).trim.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)
    else Seq.empty
  }

  /** Hash-bucket layout, fixed at CREATE (reference: plugin/trino-hive
    * HiveTableProperties.java:54 `bucketed_by`/`bucket_count`/`sorted_by`;
    * bucketed execution HiveBucketing.java). The Spark-first spelling rides
    * Spark's NATIVE bucketing on the write side and the DSv2
    * storage-partitioned-join API on the read side (r17):
    *
    *  - WRITES go through `bucketBy(count, cols).sortBy(sorted)` (after a
    *    `repartition(count, cols)` that co-locates each bucket into one
    *    task, so every write emits exactly one file per populated bucket,
    *    sorted within) — file names carry the bucket id in Spark's own
    *    `…_000NN.` convention. New files land under `data/v<N>/`; carried
    *    files stay where previous commits put them — the MANIFEST union is
    *    the snapshot, and commits also lift per-column min/max/null stats
    *    plus size/mtime from the new files' footers into it.
    *  - READS of ANY version are served by [[CowDsv2]]: a DSv2 Scan plans
    *    one input partition per bucket from the manifest and reports
    *    `KeyGroupedPartitioning(bucket(count, cols))` — joins/aggs on the
    *    bucket key plan ZERO exchanges at any version, equality on the
    *    bucket key prunes to one bucket, value ranges prune files, runtime
    *    (DPP) filters prune partitions/buckets at execution, and a fresh
    *    single-file-per-bucket generation also reports its sort order. No
    *    directory materialization, no catalog DDL, no per-version entries.
    *    Schema-evolved snapshots fall back to the manifest file-list read
    *    (correct, unbucketed).
    *
    * The bucket count is fixed at CREATE — the classic bucketed-table
    * trade; pick it for the target scale (buckets ≈ cluster cores at the
    * largest expected snapshot). `bucketed_by` composes with
    * `partitioned_by` (as in the reference's hive connector): partition
    * directories nest per write, each holding its own bucket file set,
    * and partition values parse from manifest paths at scan time. */
  val bucketing: Option[CowTable.BucketSpec0] = {
    val f = Paths.get(root, "_bucketing")
    if (!Files.exists(f)) None
    else {
      val lines = new String(Files.readAllBytes(f)).split("\n", -1)
      val sorted = if (lines.length > 2 && lines(2).trim.nonEmpty)
        lines(2).trim.split(",").toSeq.map(_.trim) else Seq.empty
      Some(CowTable.BucketSpec0(
        lines(1).trim.split(",").toSeq.map(_.trim), lines(0).trim.toInt, sorted))
    }
  }

  /** Stored schema DDL (written at CREATE): a bucketed table's declared
    * schema, known even when the first snapshot is empty. */
  private def storedSchemaDdl: String =
    new String(Files.readAllBytes(Paths.get(root, "_table_schema"))).trim

  /** Stable per-table name derived from the table root: prefixes the
    * staging catalog entry of a bucketed write and names the table in its
    * skew warning. */
  private[catalog] def catalogName: String =
    "cow_bkt_" + java.lang.Long.toHexString(
      root.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => 31 * h + b) & Long.MaxValue)

  private def versionDir(v: Int): Path = dataDir.resolve(s"v$v")

  /** File-list read that recovers partition columns when partitioned. */
  private def readFiles(files: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    var r = spark.read
    if (mergeSchema) r = r.option("mergeSchema", "true")
    if (partitioning.nonEmpty) {
      // bucketed tables nest partition dirs under data/v<N>/ — a snapshot's
      // files all share one version dir, which is the partition-parsing root
      val base =
        if (bucketing.isEmpty) dataDir.toString
        else files.headOption.map { f =>
          f.substring(0, "^(.*/v\\d+)/".r.findFirstMatchIn(f)
            .map(_.group(1).length).getOrElse(dataDir.toString.length))
        }.getOrElse(dataDir.toString)
      r = r.option("basePath", base)
    }
    r.parquet(files: _*)
  }

  def currentVersion: Int =
    new String(Files.readAllBytes(manifestDir.resolve("CURRENT"))).trim.toInt

  // ------------------------------------------------------------- branches
  // (reference: SqlBase.g4:135-142 CREATE/DROP/ALTER BRANCH … FAST FORWARD,
  // SHOW BRANCHES, '@branch' on INSERT/DELETE — the iceberg connector's
  // branch refs. Here a branch is a named head pointer over the SAME linear
  // version history: refs/<name> holds the branch's head version; "main" IS
  // the CURRENT pointer. Version numbers are allocated globally
  // (max over all manifests + 1), so two branches never collide; every
  // branch head stays time-travelable like any version.)

  private def refsDir = manifestDir.resolve("refs")

  /** Highest committed version across ALL branches. */
  private def maxVersion: Int = {
    var mx = 0
    val it = Files.list(manifestDir).iterator()
    while (it.hasNext) {
      val n = it.next().getFileName.toString
      if (n.startsWith("v") && n.stripPrefix("v").forall(_.isDigit))
        mx = math.max(mx, n.stripPrefix("v").toInt)
    }
    mx
  }

  def branchExists(name: String): Boolean =
    name.equalsIgnoreCase("main") || Files.exists(refsDir.resolve(name.toLowerCase))

  /** Head version of `branch` ("main" = CURRENT). */
  def branchHead(branch: String): Int =
    if (branch.equalsIgnoreCase("main")) currentVersion
    else {
      val f = refsDir.resolve(branch.toLowerCase)
      require(Files.exists(f), s"branch '$branch' does not exist")
      new String(Files.readAllBytes(f)).trim.toInt
    }

  private def setHead(branch: String, v: Int): Unit =
    if (branch.equalsIgnoreCase("main")) {
      val tmp = manifestDir.resolve(s"CURRENT.tmp${java.util.UUID.randomUUID()}")
      Files.write(tmp, v.toString.getBytes)
      Files.move(tmp, manifestDir.resolve("CURRENT"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      Files.createDirectories(refsDir)
      val tmp = refsDir.resolve(s".tmp${java.util.UUID.randomUUID()}")
      Files.write(tmp, v.toString.getBytes)
      Files.move(tmp, refsDir.resolve(branch.toLowerCase),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** All branches with their heads, "main" first. */
  def branches: Seq[(String, Int)] = {
    val named =
      if (!Files.isDirectory(refsDir)) Nil
      else {
        val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
        val it = Files.list(refsDir).iterator()
        while (it.hasNext) {
          val p = it.next()
          if (!p.getFileName.toString.startsWith("."))
            out += ((p.getFileName.toString,
              new String(Files.readAllBytes(p)).trim.toInt))
        }
        out.toSeq.sortBy(_._1)
      }
    ("main", currentVersion) +: named
  }

  /** CREATE [OR REPLACE] BRANCH name [FROM from] — the new branch points
    * at `from`'s head (default main). */
  def createBranch(name: String, from: Option[String] = None,
      orReplace: Boolean = false, ifNotExists: Boolean = false): Unit = {
    require(!name.equalsIgnoreCase("main"), "branch name 'main' is reserved")
    if (branchExists(name) && !orReplace) {
      if (ifNotExists) return
      throw new IllegalArgumentException(s"branch '$name' already exists")
    }
    setHead(name, branchHead(from.getOrElse("main")))
  }

  def dropBranch(name: String, ifExists: Boolean = false): Unit = {
    require(!name.equalsIgnoreCase("main"), "cannot drop branch 'main'")
    if (!Files.deleteIfExists(refsDir.resolve(name.toLowerCase)) && !ifExists)
      throw new IllegalArgumentException(s"branch '$name' does not exist")
  }

  /** ALTER BRANCH source FAST FORWARD TO target: source takes target's
    * head. History is linear, so "ancestor" = a lower-or-equal version;
    * moving a head backwards is not a fast-forward and fails loudly
    * (reference iceberg fastForward procedure semantics). */
  def fastForward(source: String, target: String): Int = {
    val tv = branchHead(target)
    require(tv >= branchHead(source),
      s"cannot fast-forward '$source' to '$target': target is behind")
    setHead(source, tv)
    tv
  }

  /** Branch-head snapshot read. */
  def readBranch(branch: String): DataFrame =
    read(asOfVersion = Some(branchHead(branch)))

  /** Manifest row identity, unique within a snapshot: plain tables use the
    * part-<uuid> file name; BUCKETED tables reuse bucket file names across
    * partition directories (one write job emits the same
    * part-<task>-<uuid>_<bucket> name under every col=value/ dir), so their
    * identity is the path RELATIVE to the version directory — which the
    * carried files keep across versions. Computed relative to this
    * table's dataDir, never by pattern-matching the whole absolute path: a
    * warehouse root that itself contains a `/v<digits>/` segment (e.g.
    * `/srv/v2/warehouse`) must not corrupt identities. */
  private def identityOf(p: String): String =
    if (bucketing.isDefined) {
      val dd = dataDir.toString + "/"
      val rel = if (p.startsWith(dd)) p.substring(dd.length) else p
      "^v\\d+/(.*)$".r.findFirstMatchIn(rel).map(_.group(1))
        .getOrElse(rel.substring(rel.lastIndexOf('/') + 1))
    } else p.substring(p.lastIndexOf('/') + 1)

  /** Snapshot file list as a DataFrame {path, fname} — the scalable handle. */
  def manifestDf(v: Int): DataFrame = {
    val base = spark.read.parquet(manifestDir.resolve(s"v$v").toString)
    if (bucketing.isDefined)
      base.withColumn("fname", regexp_extract(col("path"),
        java.util.regex.Pattern.quote(dataDir.toString + "/") + "v\\d+/(.*)$", 1))
    else
      base.withColumn("fname", regexp_extract(col("path"), "[^/]+$", 0))
  }

  private def manifestFiles(v: Int): Seq[String] =
    manifestDf(v).select("path").collect().map(_.getString(0)).toSeq

  /** Marker: some committed file generation's column set/types differ from
    * `_table_schema` (ALTER ADD COLUMN + INSERT, RENAME, …). While set,
    * bucketed reads fall back to the manifest file-list (mergeSchema-
    * capable, correct, NOT bucket-aware) instead of the DSv2 bucketed scan,
    * whose declared schema would silently NULL the evolved columns. A full
    * `replace` (one consistent generation — e.g. SET DATA TYPE's rewrite)
    * refreshes `_table_schema` and clears the marker, restoring the
    * bucket-aware fast path. */
  private def evolvedMarker: Path = Paths.get(root, "_schema_evolved")
  private[catalog] def schemaEvolved: Boolean = Files.exists(evolvedMarker)

  /** Lowest version the current `_table_schema` describes (bumped by a
    * schema-changing replace); older versions time-travel via manifests. */
  private def schemaFloorFile: Path = Paths.get(root, "_schema_floor")
  private def schemaFloor: Int =
    if (Files.exists(schemaFloorFile))
      new String(Files.readAllBytes(schemaFloorFile)).trim.toInt
    else 0

  /** Column name:type signature, nullability-insensitive (a parquet
    * read-back reports different nullability than the CTAS frame). */
  private def schemaSig(s: org.apache.spark.sql.types.StructType): String =
    s.fields.map(f => f.name.toLowerCase + ":" + f.dataType.sql.toLowerCase)
      .mkString(",")

  /** Snapshot read (latest, or a past version for time travel).
    * `mergeSchema` unions mixed per-file schemas (post-ALTER tables): a
    * distributed footer merge, paid only by callers that evolved the
    * schema — the default read keeps the single-footer fast path.
    *
    * Bucketed tables serve BOTH current and time-travel reads through
    * [[CowDsv2]] (bucket-aware partitioning and pruning straight from the
    * manifest, zero catalog DDL) for any version whose manifest exists and
    * which the declared schema still describes (`schemaFloor`, no
    * evolution); other versions take the manifest file-list read. */
  def read(asOfVersion: Option[Int] = None, mergeSchema: Boolean = false): DataFrame = {
    if (bucketing.isDefined && !schemaEvolved) {
      val v = asOfVersion.getOrElse(currentVersion)
      if (v >= schemaFloor && Files.isDirectory(manifestDir.resolve(s"v$v")))
        return CowDsv2.table(spark, root, v)
    }
    val files = manifestFiles(asOfVersion.getOrElse(currentVersion))
    if (files.isEmpty) spark.emptyDataFrame
    else readFiles(files, mergeSchema)
  }

  /** Per-mutation accounting, exposed for pruning asserts in CowTableSpec. */
  final case class MutationStats(
      manifestSizeBefore: Long, affectedFiles: Seq[String],
      untouchedCarried: Long, version: Int)

  /** Carried-manifest projection: path plus the per-file column stats when
    * the source manifest carries them (pre-r17 manifests lack the column;
    * commit's unionByName fills those with null = "no stats, no pruning"). */
  private def carryDf(v: Int): DataFrame = {
    val m = manifestDf(v)
    val extras = Seq("stats", "size", "mtime").filter(m.columns.contains)
    sanitizeCarriedStats(m.select("path", extras: _*), v)
  }

  /** String stats carried from a manifest WITHOUT the `_stats_utf8` marker
    * may have been merged across row groups in UTF-16 order (pre-r18
    * writers): their max can be understated above the BMP, so carrying
    * them under the new manifest's marker would license wrong pruning.
    * Strip string-typed keys from such carried stats (numeric/boolean
    * orders never differed); every manifest written by this code then
    * carries only UTF-8-merged string bounds and the commit-side marker is
    * sound (ADVICE r19). */
  private def sanitizeCarriedStats(df: DataFrame, fromV: Int): DataFrame = {
    if (!df.columns.contains("stats") ||
        Files.exists(manifestDir.resolve(s"v$fromV").resolve("_stats_utf8")))
      return df
    val stringCols = org.apache.spark.sql.types.StructType
      .fromDDL(storedSchemaDdl).fields
      .collect { case f if f.dataType == org.apache.spark.sql.types.StringType =>
        f.name.toLowerCase }.toSeq
    if (stringCols.isEmpty) df
    else df.withColumn("stats",
      map_filter(col("stats"), (k, _) => !k.isin(stringCols: _*)))
  }

  /** Append-only insert: new files, no rewrites. `branch` scopes the commit
    * to that branch's head (the reference's `INSERT INTO t@branch`). */
  def insert(df: DataFrame, branch: String = "main"): Unit = {
    val v = branchHead(branch)
    val newFiles = writeData(df)
    commit(carryDf(v), newFiles, branch)
    ()
  }

  /** Idempotent STREAMING insert — the foreachBatch sink primitive
    * (Structured Streaming re-delivers a micro-batch after restart; the
    * sink must deduplicate on batchId for end-to-end exactly-once). The
    * batch id is tagged INSIDE the new version's manifest directory before
    * the head advances, so the replay check is "a PUBLISHED version
    * (≤ CURRENT) carries this tag":
    *  - crash after the tag but before the head advance leaves an ORPHAN
    *    tagged version ABOVE the head — the replay redoes the batch (the
    *    data was never visible) and vacuum sweeps the orphan;
    *  - once the head advances, every redelivery of the batch is a no-op.
    * Returns false when the batch was already published. Use through
    * [[CowTable.streamInto]]: `df.writeStream.foreachBatch(streamInto(t))`.
    *
    * CONTRACT (ADVICE r19): batch ids must be monotone across the table's
    * lifetime — ONE streaming query with a stable checkpoint (exactly the
    * regime Structured Streaming's foreachBatch guarantees). The O(1)
    * replay check treats `batchId <= marker max` as published, so a query
    * restarted with a FRESH checkpoint (ids reset to 0) would have its
    * early batches silently skipped. To re-ingest from a new checkpoint,
    * target a new table (or delete `_stream_max_batch` and the `_batch_*`
    * tags along with the checkpoint). Multi-query ingest into one table is
    * outside this subset — key the marker/tags by queryId before lifting. */
  def insertStreamBatch(df: DataFrame, batchId: Long): Boolean = {
    if (streamBatchPublished(batchId)) return false
    val newFiles = writeData(df)
    val (_, v) = commit(carryDf(currentVersion), newFiles, "main",
      tag = Some(s"_batch_$batchId"))
    writeStreamMarker(batchId, v)
    true
  }

  /** Head-side marker `<maxPublishedBatchId> <versionThatCarriedIt>` —
    * written AFTER the head advance, so it only ever describes published
    * batches. r18: the replay check below used to probe `v$i/_batch_<id>`
    * for EVERY version 0..head on EVERY micro-batch — an O(total versions)
    * metadata sweep that grows unboundedly on a long-lived ingest table
    * (and a LIST/HEAD storm on an object store). */
  private def streamMarkerFile = manifestDir.resolve("_stream_max_batch")

  private def readStreamMarker(): Option[(Long, Int)] =
    if (!Files.exists(streamMarkerFile)) None
    else scala.util.Try {
      new String(Files.readAllBytes(streamMarkerFile)).trim
        .split("\\s+") match {
          case Array(b, v) => Some((b.toLong, v.toInt))
          case _ => None
        }
    }.toOption.flatten // a corrupt marker degrades to the legacy sweep,
                       // never to an ingest outage

  private def writeStreamMarker(batchId: Long, v: Int): Unit =
    // monotone guard (batch ids are monotone per query; defensive anyway) +
    // atomic rename so a crashed write can never leave a torn marker
    if (readStreamMarker().forall(_._1 < batchId)) {
      val tmp = manifestDir.resolve("_stream_max_batch.tmp")
      Files.write(tmp, s"$batchId $v".getBytes)
      Files.move(tmp, streamMarkerFile, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }

  /** O(1) replay check: Structured Streaming batch ids are monotonically
    * increasing per query, so `batchId <= marker.max` decides "published"
    * in one small read. Versions committed after the marker was written
    * (non-stream commits interleaved on the table, or a crash between the
    * head advance and the marker write) are swept as a bounded catch-up —
    * the next successful batch rewrites the marker, so the window never
    * grows with table age. An ORPHAN tag above the head (crash between tag
    * and head advance) stays above both head and marker, so its batch is
    * redone exactly as before. Legacy tables without a marker fall back to
    * the full sweep. */
  private def streamBatchPublished(batchId: Long): Boolean = {
    val head = currentVersion
    def sweep(fromV: Int): Boolean = (fromV to head).exists(v =>
      Files.exists(manifestDir.resolve(s"v$v").resolve(s"_batch_$batchId")))
    readStreamMarker() match {
      case Some((maxB, from)) => batchId <= maxB || sweep(from + 1)
      case None => sweep(0)
    }
  }

  /** Full-refresh replace: publish a snapshot containing only `df` (the
    * materialized-view refresh primitive) — prior snapshots stay readable. */
  def replace(df: DataFrame): Unit = {
    import spark.implicits._
    // a replace publishes ONE consistent file generation: refresh the
    // declared bucketed-table schema to df's and clear the evolution
    // marker — the bucket-aware fast path is valid again
    val schemaChanged = bucketing.isDefined && schemaSig(df.schema) !=
      schemaSig(org.apache.spark.sql.types.StructType.fromDDL(storedSchemaDdl))
    if (schemaChanged)
      Files.write(Paths.get(root, "_table_schema"), df.schema.toDDL.getBytes)
    val newFiles = writeData(df)
    val (_, v) = commit(Seq.empty[String].toDF("path"), newFiles, "main")
    // versions BELOW the floor predate the current declared schema — time
    // travel serves them from their manifests, never through an entry
    // declaring the new schema over old-generation files
    if (schemaChanged) Files.write(schemaFloorFile, v.toString.getBytes)
    Files.deleteIfExists(evolvedMarker)
    ()
  }

  /** Copy-on-write DELETE, optionally against a branch head
    * (`DELETE FROM t@branch`). */
  def delete(cond: Column, branch: String = "main"): MutationStats = {
    val affected = probeFiles(readBranch(branch).filter(cond))
    if (affected.isEmpty)
      MutationStats(manifestDf(branchHead(branch)).count(), Nil, 0, branchHead(branch))
    else {
      val survivors = readFiles(affected).filter(!cond)
      mutate(affected, writeData(survivors), branch)
    }
  }

  /** Copy-on-write UPDATE: SET column -> expression where cond holds. */
  def update(cond: Column, set: Map[String, Column]): MutationStats = {
    val affected = probeFiles(read().filter(cond))
    if (affected.isEmpty) MutationStats(manifestDf(currentVersion).count(), Nil, 0, currentVersion)
    else {
      val base = readFiles(affected)
      val updated = set.foldLeft(base) { case (df, (col0, expr0)) =>
        df.withColumn(col0, when(cond, expr0).otherwise(df(col0)))
      }
      mutate(affected, writeData(updated))
    }
  }

  /** Copy-on-write MERGE: upsert `source` on equality of `key`.
    * WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *. */
  def merge(source: DataFrame, key: String): MutationStats = {
    val cur = read()
    // input_file_name() must bind BELOW the join: above it, a multi-source
    // `source` plan (e.g. a UNION) trips MULTI_SOURCES_UNSUPPORTED
    val affected = cur.withColumn("__cow_file", input_file_name())
      .join(source.select(key), Seq(key), "left_semi")
      .select(col("__cow_file")).distinct()
      .collect().map(r => CowTable.normalize(r.getString(0))).toSeq
    // rewritten files: affected rows with matches replaced by source rows
    val rewritten =
      if (affected.isEmpty) Seq.empty
      else {
        val base = readFiles(affected)
        writeData(base.join(source.select(key), Seq(key), "left_anti")
          .unionByName(source.join(base.select(key), Seq(key), "left_semi")))
      }
    // brand-new keys land in a fresh file
    val inserted = {
      val newRows = source.join(cur.select(key), Seq(key), "left_anti")
      if (newRows.isEmpty) Seq.empty else writeData(newRows)
    }
    mutate(affected, rewritten ++ inserted)
  }

  /** Full conditional MERGE (reference SqlBase.g4:222 `mergeCase+`, executed
    * by core/trino-main operator/MergeWriterOperator.java:48 +
    * MergeProcessorOperator): arbitrary ON expression, ordered WHEN MATCHED
    * [AND cond] THEN UPDATE SET col=expr…/DELETE cases (first match wins),
    * ordered WHEN NOT MATCHED [AND cond] THEN INSERT cases.
    *
    * Lowered onto the CoW kernel as a joined rewrite:
    *  - affected files = files holding ≥1 target row with a source match
    *    (input_file_name probe below the join — the same pruned-scan shape
    *    as merge(); conditions only shrink the rewrite, never the probe);
    *  - within affected files, each row picks its FIRST applicable matched
    *    case via a chained CASE column; updates project per-column CASE
    *    expressions, deletes drop, everything else carries unchanged;
    *  - the SQL-standard cardinality rule is enforced distributively: a
    *    target row acted on by >1 source rows aborts (reference error shape
    *    "One MERGE target table row matched more than one source row");
    *  - NOT MATCHED inserts anti-join the FULL table (never just affected
    *    files) and land in fresh files.
    * All expression arguments arrive as SQL text referencing `tAlias` /
    * `sAlias`, resolved against aliased DataFrames — Catalyst plans the
    * join strategy (broadcast for small sources) like any other query.
    * Returns (stats, affected-row count = updated + deleted + inserted). */
  def mergeFull(source: DataFrame, tAlias: String, sAlias: String,
      onSql: String, matched: Seq[CowTable.WhenMatched],
      notMatched: Seq[CowTable.WhenNotMatched]): (MutationStats, Long) = {
    val cur = read()
    val tFields = cur.schema.fields.toSeq
    val s = source.alias(sAlias)
    def onCol: Column = expr(onSql)
    // frames pinned by localCheckpoint below; released once the MERGE has
    // committed or failed, not left for a driver GC
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.localCheckpoint(true); pinned += p; p }
    try {
      // ---- matched side: affected-file probe + rewrite
      val affected: Seq[String] =
        if (matched.isEmpty) Nil
        else cur.withColumn("__cow_file", input_file_name()).alias(tAlias)
          .join(s, onCol, "left_semi")
          .select(col("__cow_file")).distinct()
          .collect().map(r => CowTable.normalize(r.getString(0))).toSeq

      var changed = 0L
      val rewritten: Seq[String] =
        if (affected.isEmpty) Nil
        else {
          // row identity for the cardinality rule: ids must be STABLE across
          // the jobs below, so the id'd base is pinned (bounded by mutation
          // locality — these files are being rewritten anyway)
          val base = pin(readFiles(affected)
            .withColumn("__cow_rid", monotonically_increasing_id()))
          val joined = base.alias(tAlias).join(s, onCol, "inner")
          // first applicable case wins (evaluation order is the WHEN order)
          val act = matched.zipWithIndex.foldRight(lit(-1)) {
            case ((w, i), acc) =>
              when(w.condSql.map(expr).getOrElse(lit(true)), lit(i)).otherwise(acc)
          }
          val acted = pin(joined.withColumn("__cow_act", act)
            .filter(col("__cow_act") >= 0))
          val multi = acted.groupBy(col("__cow_rid")).count()
            .filter(col("count") > 1).limit(1).count()
          if (multi > 0) throw new IllegalStateException(
            "One MERGE target table row matched more than one source row")
          changed += acted.count()
          val untouchedRows = base
            .join(acted.select("__cow_rid"), Seq("__cow_rid"), "left_anti")
            .select(tFields.map(f => col(f.name)): _*)
          val updIdx = matched.zipWithIndex.collect {
            case (w, i) if !w.deleteAction => i
          }
          val updatedRows =
            if (updIdx.isEmpty) None
            else Some(acted.filter(col("__cow_act").isin(updIdx.map(Int.box): _*))
              .select(tFields.map { f =>
                val keep = col(s"$tAlias.${f.name}")
                matched.zipWithIndex.foldRight(keep) { case ((w, i), acc) =>
                  w.set.get(f.name.toLowerCase) match {
                    case Some(sql) if !w.deleteAction =>
                      when(col("__cow_act") === i, expr(sql)).otherwise(acc)
                    case _ => acc
                  }
                }.cast(f.dataType).as(f.name)
              }: _*))
          val survivors = updatedRows
            .map(untouchedRows.unionByName(_)).getOrElse(untouchedRows)
          writeData(survivors)
        }

      // ---- not-matched side: inserts from source rows with no target match
      val inserted: Seq[String] =
        if (notMatched.isEmpty) Nil
        else {
          val unmatched = s.join(cur.alias(tAlias), onCol, "left_anti")
          val insAct = notMatched.zipWithIndex.foldRight(lit(-1)) {
            case ((w, i), acc) =>
              when(w.condSql.map(expr).getOrElse(lit(true)), lit(i)).otherwise(acc)
          }
          val insActed = unmatched.withColumn("__cow_ins", insAct)
            .filter(col("__cow_ins") >= 0)
          val rows = insActed.select(tFields.map { f =>
            notMatched.zipWithIndex.foldRight(lit(null).cast(f.dataType)) {
              case ((w, i), acc) =>
                val pos = w.cols.indexOf(f.name.toLowerCase)
                if (pos < 0 || pos >= w.vals.length) acc
                else when(col("__cow_ins") === i, expr(w.vals(pos))).otherwise(acc)
            }.cast(f.dataType).as(f.name)
          }: _*)
          if (rows.isEmpty) Nil
          else {
            val files = writeData(rows)
            changed += readFiles(files).count()
            files
          }
        }

      val stats =
        if (affected.isEmpty && inserted.isEmpty)
          MutationStats(manifestDf(currentVersion).count(), Nil, 0, currentVersion)
        else mutate(affected, rewritten ++ inserted)
      (stats, changed)
    } finally pinned.foreach(graft.engine.Checkpoints.release)
  }

  /** Which physical files hold at least one row of `matching`? Driver-side
    * list is intentional and bounded by mutation locality: these exact files
    * are about to be re-read for rewriting. */
  private def probeFiles(matching: DataFrame): Seq[String] =
    matching.select(input_file_name().as("f")).distinct()
      .collect().map(r => normalize(r.getString(0))).toSeq

  /** Publish: untouched = manifest ANTI-JOIN affected (distributed — the full
    * manifest never lands on the driver), plus the freshly written files. */
  private def mutate(affected: Seq[String], newFiles: Seq[String],
      branch: String = "main"): MutationStats = {
    val before = manifestDf(branchHead(branch))
    val affectedNames = affected.map(identityOf)
    val affectedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(affectedNames.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fname", org.apache.spark.sql.types.StringType))))
    val extras = Seq("stats", "size", "mtime").filter(before.columns.contains)
    val untouched = sanitizeCarriedStats(
      before.join(broadcast(affectedDf), Seq("fname"), "left_anti")
        .select("path", extras: _*), branchHead(branch))
    val (carried, v) = commit(untouched, newFiles, branch)
    MutationStats(before.count(), affected, carried, v)
  }

  private def writeData(df: DataFrame): Seq[String] = bucketing match {
    case Some(b) =>
      // schema evolution detection (see `evolvedMarker`): a write whose
      // column signature differs from the declared table schema makes the
      // snapshot mixed-generation — catalog-entry reads would silently
      // NULL the new columns, so flag the table for file-list reads
      if (!schemaEvolved && schemaSig(df.schema) !=
          schemaSig(org.apache.spark.sql.types.StructType.fromDDL(storedSchemaDdl))) {
        Files.write(evolvedMarker, Array.emptyByteArray)
        ()
      }
      stageBucketed(df, b)
    case None => writePlain(df)
  }

  /** Stage a bucketed file set (names carry Spark's `…_000NN.` bucket-id
    * convention; `commit` moves them into the version directory unrenamed).
    * The pre-write `repartition(count, cols)` uses the SAME Murmur3 hash as
    * the bucket assignment, so each task holds exactly one bucket and every
    * write emits at most one (sorted) file per populated bucket. Spark only
    * exposes bucketed writing through saveAsTable, so the stage goes via a
    * throwaway external catalog entry — dropped immediately; the files are
    * ours.
    *
    * WRITE-PARALLELISM TRADE (deliberate): write parallelism equals
    * bucket_count — one task produces one bucket's single sorted file across
    * ALL hive partitions, the same per-bucket-writer contract as the
    * reference's hive connector (plugin/trino-hive/.../HiveBucketing.java).
    * The cost is skew: a hot bucket key serializes its whole bucket into one
    * straggler task, and OPTIMIZE cannot split a bucket without breaking the
    * one-file-per-bucket read contract. Pick bucket_count for the TARGET
    * scale (rows/bucket_count ≈ one healthy task's worth) and pick bucket
    * columns with enough key cardinality that Murmur3 spreads them; the
    * post-stage skew check below logs a warning when one staged bucket
    * exceeds 4× the median bucket size so a bad key choice is visible at
    * write time, not as a mystery straggler at read time. */
  private def stageBucketed(df: DataFrame, b: CowTable.BucketSpec0): Seq[String] = {
    val tmp = Paths.get(root, s"_stage_${java.util.UUID.randomUUID()}")
    val tmpName = s"${catalogName}_stage_${java.lang.Long.toHexString(System.nanoTime())}"
    var w = df.repartition(b.count, b.cols.map(df(_)): _*)
      .write.option("path", tmp.toString)
    // hive-partitioned + bucketed (reference hive supports both): each
    // partition directory holds its own bucket file set
    if (partitioning.nonEmpty) w = w.partitionBy(partitioning: _*)
    w = w.bucketBy(b.count, b.cols.head, b.cols.tail: _*)
    if (b.sortCols.nonEmpty) w = w.sortBy(b.sortCols.head, b.sortCols.tail: _*)
    w.mode("overwrite").saveAsTable(tmpName)
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p).iterator()
        while (it.hasNext) walk(it.next())
      } else if (p.getFileName.toString.endsWith(".parquet")) out += p.toString
      else Files.deleteIfExists(p) // _SUCCESS etc. — commit later drops dirs
      ()
    }
    walk(tmp)
    // skew check (scaladoc above): per-bucket staged bytes, summed across
    // hive partitions; warn when max > 4× median. Local file metadata only.
    val byBucket = out.groupBy(p => "_(\\d{5})\\.".r.findFirstMatchIn(
        Paths.get(p).getFileName.toString).map(_.group(1)).getOrElse("?"))
      .map { case (_, fs) => fs.map(f => Files.size(Paths.get(f))).sum }
      .toSeq.sorted
    if (byBucket.size > 1) {
      val median = byBucket(byBucket.size / 2)
      if (median > 0 && byBucket.last > 4 * median)
        System.err.println(s"[graft] WARN bucketed write skew on $catalogName: " +
          s"largest bucket ${byBucket.last}B > 4x median ${median}B " +
          s"(bucket columns ${b.cols.mkString(",")} — consider a higher-cardinality key)")
    }
    out.toSeq
  }

  private def writePlain(df: DataFrame): Seq[String] = {
    val tmp = Paths.get(root, s"_stage_${java.util.UUID.randomUUID()}")
    if (partitioning.isEmpty) df.write.parquet(tmp.toString)
    else df.write.partitionBy(partitioning: _*).parquet(tmp.toString)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    // move staged leaves into data/, keeping any col=value/ dirs so reads
    // with basePath recover partition values
    def walk(p: Path, rel: Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p).iterator()
        while (it.hasNext) {
          val c = it.next()
          walk(c, rel.resolve(c.getFileName))
        }
      } else if (p.getFileName.toString.endsWith(".parquet")) {
        val dest = dataDir
          .resolve(Option(rel.getParent).map(_.toString).getOrElse(""))
          .resolve(s"part-${java.util.UUID.randomUUID()}.parquet")
        Files.createDirectories(dest.getParent)
        Files.move(p, dest)
        out += dest.toString
      }
    }
    walk(tmp, Paths.get(""))
    deleteRecursively(tmp)
    out.toSeq
  }

  /** Write a NEW manifest (version = global max + 1, unique across all
    * branches) = carriedDf ∪ newFiles as a parquet dataset, then atomically
    * advance `branch`'s head. Returns (carried-file count, new version). */
  /** Relative path below the stage root / a version dir — partition
    * subdirectories (col=value/…) must survive the move root-relative,
    * never via a whole-path regex (a root containing /v2/ or _stage_
    * segments must not mis-split). */
  private def relOf(p: String): String = {
    val rootPrefix = root + "/"
    val rel = if (p.startsWith(rootPrefix)) p.substring(rootPrefix.length) else p
    "^(?:_stage_[^/]+|data/v\\d+)/(.*)$".r.findFirstMatchIn(rel)
      .map(_.group(1)).getOrElse(p.substring(p.lastIndexOf('/') + 1))
  }

  private def commit(carriedDf: DataFrame, newFiles: Seq[String],
      branch: String, tag: Option[String] = None): (Long, Int) = {
    // every table mutation flows through here: cached front-door plans
    // pinned to the previous snapshot must not be served again. Bump
    // before AND after (finally: the head may have advanced even on a
    // partially failed commit) — the after-bump is the one that evicts a
    // plan analyzed against the old snapshot CONCURRENTLY with this
    // commit, which would otherwise survive under the new epoch.
    graft.sqlx.PlanCache.invalidate()
    try commitBody(carriedDf, newFiles, branch, tag)
    finally graft.sqlx.PlanCache.invalidate()
  }

  private def commitBody(carriedDf: DataFrame, newFiles: Seq[String],
      branch: String, tag: Option[String]): (Long, Int) = {
    import spark.implicits._
    val v = maxVersion + 1
    // a tag file inside the manifest dataset dir ('_'-prefixed: invisible
    // to the parquet reader) marks the version BEFORE the head advances —
    // the streaming exactly-once anchor (insertStreamBatch)
    def writeTag(): Unit = tag.foreach { t =>
      Files.write(manifestDir.resolve(s"v$v").resolve(t), Array.emptyByteArray)
      ()
    }
    if (bucketing.isDefined) {
      // DSv2 manifest commit: staged files move into data/v<N>/
      // keeping their bucket-id names and partition subdirectories; CARRIED
      // files stay exactly where previous commits put them — the manifest
      // union IS the snapshot, served bucket-aware by CowDsv2. Filesystem
      // cost is O(files this mutation touched); the carried set streams
      // through the distributed manifest write without ever landing on the
      // driver. NEW files get per-column min/max/null stats lifted from
      // their parquet footers (O(new files) footer reads) — the manifest
      // data-skipping the open lake formats keep (reference: the iceberg
      // connector prunes files from manifest value ranges); CowDsv2 prunes
      // files whose ranges exclude the pushed predicates before any footer
      // is opened at READ time.
      val dir = versionDir(v)
      Files.createDirectories(dir)
      val outNew = newFiles.map(moveStaged(_, dir))
      // stats + size + mtime travel IN the manifest so read-side planning
      // never stats the filesystem per file (an O(files) round per QUERY on
      // an object store otherwise)
      val newDf = outNew.map { p =>
        val pp = Paths.get(p)
        (p, footerStats(p), Files.size(pp),
          Files.getLastModifiedTime(pp).toMillis)
      }.toDF("path", "stats", "size", "mtime")
      carriedDf.unionByName(newDf, allowMissingColumns = true)
        .coalesce(1).write.mode("overwrite")
        .parquet(manifestDir.resolve(s"v$v").toString)
      // string-stats order marker: new entries' bounds were merged under
      // UTF-8 (footerStats), and every carried DF passed through
      // sanitizeCarriedStats at its construction site (carryDf / mutate),
      // so the whole manifest's string bounds are UTF-8-safe. Underscore
      // prefix: invisible to the parquet reader, like _SUCCESS.
      Files.write(manifestDir.resolve(s"v$v").resolve("_stats_utf8"),
        Array.emptyByteArray)
      writeTag()
      val carried = carriedDf.count()
      setHead(branch, v)
      return (carried, v)
    }
    val next = carriedDf.unionByName(newFiles.toDF("path"), allowMissingColumns = true)
    next.write.mode("overwrite").parquet(manifestDir.resolve(s"v$v").toString)
    writeTag()
    val carried = carriedDf.count()
    setHead(branch, v)
    (carried, v)
  }

  /** Per-file column stats lifted from the parquet FOOTER at commit time:
    * top-level columns of simple types only (ints, floats, strings,
    * booleans), min/max merged across row groups, null + value counts.
    * Values are stored as strings and re-typed against the table schema at
    * scan time (the same cast path hive-partition values use). A column
    * with unusable statistics (unknown type, NaN bounds, stats-free
    * writer) is simply omitted — absence means "cannot prune", never
    * wrong pruning. */
  private def footerStats(p: String): Map[String, CowTable.ColStat] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val acc = scala.collection.mutable.Map[String, CowTable.ColStat]()
    val bad = scala.collection.mutable.Set[String]()
    try {
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p),
        spark.sessionState.newHadoopConf())
      val reader = ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.size == 1) {
              val name = c.getPath.toDotString.toLowerCase
              val pt = c.getPrimitiveType
              val lt = pt.getLogicalTypeAnnotation
              val numeric = pt.getPrimitiveTypeName match {
                case INT32 | INT64 =>
                  lt == null || lt.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
                case FLOAT | DOUBLE => lt == null
                case _ => false
              }
              val stringy = pt.getPrimitiveTypeName == BINARY &&
                lt.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              val booly = pt.getPrimitiveTypeName == BOOLEAN && lt == null
              val st = c.getStatistics
              if (!(numeric || stringy || booly) || st == null || st.isEmpty ||
                  !st.hasNonNullValue || st.getNumNulls < 0) bad += name
              else try {
                def str(v: Any): String = v match {
                  case bin: org.apache.parquet.io.api.Binary => bin.toStringUsingUTF8
                  case x => String.valueOf(x)
                }
                val (mn, mx) = (str(st.genericGetMin), str(st.genericGetMax))
                // eager validation: NaN/Infinity bounds (a float column with
                // NaNs) must DROP the column — stored as-is they would
                // compare as +inf at scan time and wrongly prune files
                if (numeric) {
                  new java.math.BigDecimal(mn); new java.math.BigDecimal(mx)
                  ()
                }
                def cmp(a: String, bb: String): Int =
                  if (numeric) new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(bb))
                  // binary UTF-8 order — the order parquet's own per-group
                  // string stats use AND the order the scan-side pruner
                  // (CowDsv2.cmpExact) compares stored bounds under; a
                  // UTF-16 String.compareTo merge could understate the max
                  // of a multi-row-group file above the BMP (r18)
                  else org.apache.spark.unsafe.types.UTF8String.fromString(a)
                    .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(bb))
                val merged = acc.get(name) match {
                  case Some(prev) => CowTable.ColStat(
                    if (cmp(mn, prev.min) < 0) mn else prev.min,
                    if (cmp(mx, prev.max) > 0) mx else prev.max,
                    prev.nulls + st.getNumNulls, prev.cnt + c.getValueCount)
                  case None =>
                    CowTable.ColStat(mn, mx, st.getNumNulls, c.getValueCount)
                }
                acc(name) = merged
              } catch { case _: NumberFormatException => bad += name }
            }
          }
        }
      } finally reader.close()
    } catch { case _: java.io.IOException => return Map.empty }
    (acc -- bad).toMap
  }

  /** Move one staged file into the version dir, dropping emptied stage
    * directories behind it (best effort). */
  private def moveStaged(pth: String, dir: Path): String = {
    val src = Paths.get(pth)
    val dest = dir.resolve(relOf(pth))
    Option(dest.getParent).foreach(Files.createDirectories(_))
    Files.move(src, dest)
    try {
      var d = src.getParent
      while (d != null && Files.isDirectory(d) &&
          !Files.list(d).iterator().hasNext) {
        Files.deleteIfExists(d); d = d.getParent
      }
    } catch { case _: java.io.IOException => }
    dest.toString
  }

  /** Snapshot rollback (reference plugin/trino-iceberg
    * RollbackToSnapshotProcedure.java:30 semantics): publish a NEW version
    * whose file set equals that of `version` — history stays monotonic and
    * the rolled-back-over versions remain time-travelable. Metadata-only:
    * no data file is read, written, or deleted, so it is O(manifest) at any
    * table size. */
  def rollbackTo(version: Int): Int = {
    val v = currentVersion
    require(version >= 0 && version <= v,
      s"version $version does not exist (current is $v)")
    if (version == v) v
    else commit(carryDf(version), Nil, "main")._2
  }

  /** Physical cleanup (the open lake formats' expire_snapshots + orphan file
    * removal, collapsed): drop every manifest below CURRENT and every data
    * file the current manifest does not reference. Time travel to expired
    * versions fails loudly afterwards (manifest gone), never misreads.
    * Returns (data files removed, manifests removed). Driver work is one
    * directory listing + the current manifest's file-name column — both
    * already O(file count) structures. */
  /** OPTIMIZE (reference: the iceberg/delta connectors' `ALTER TABLE …
    * EXECUTE optimize` / CALL optimize — small-file compaction): rewrite
    * every data file smaller than `threshold` into right-sized files,
    * publishing a new version; untouched files carry over and prior
    * versions stay time-travelable. File-size inspection is driver-side
    * METADATA (O(files)); the rewrite itself is one distributed
    * read→repartition→write of only the small files. Returns
    * (files compacted, files written). */
  /** Small-file compaction; `scope` (ALTER TABLE … EXECUTE optimize WHERE,
    * SqlBase.g4 :87-89 tableExecute booleanExpression) restricts
    * compaction to the files holding matching rows — on a partitioned
    * table a partition predicate scopes the rewrite to those directories. */
  def optimize(threshold: Long = 32L << 20,
      scope: Option[Seq[String]] = None): (Int, Int) = {
    val files = scope.getOrElse(manifestFiles(currentVersion))
    val small = files.filter(p => {
      val f = new java.io.File(p)
      f.isFile && f.length() < threshold
    })
    if (small.size < 2) return (0, 0)
    val totalBytes = small.map(new java.io.File(_).length()).sum
    val parts = math.max(1, math.ceil(totalBytes.toDouble / threshold).toInt)
    val rewritten = writeData(readFiles(small).repartition(parts))
    mutate(small, rewritten)
    (small.size, rewritten.size)
  }

  /** ALTER TABLE … EXECUTE optimize WHERE cond: compact only the files
    * holding rows matching `cond` (located by the same input_file_name
    * probe the mutations use — on a partitioned table, a partition
    * predicate prunes the probe to those directories). */
  def optimizeWhere(threshold: Long, cond: Column): (Int, Int) =
    optimize(threshold, Some(probeFiles(read().filter(cond))))

  def vacuum(): (Int, Int) = {
    // every branch head stays readable after vacuum (reference
    // expire_snapshots retains ref'd snapshots); only non-head history is
    // expired and only data files unreferenced by EVERY head are removed
    val heads = branches.map(_._2).toSet
    val live = heads.flatMap(v =>
      manifestDf(v).select("fname").collect().map(_.getString(0)))
    var dataRemoved = 0
    // recursive: partitioned tables nest files under col=value/ dirs.
    // Liveness compares the same identity the manifests use — the bare
    // uuid name for plain tables, the version-relative path for bucketed
    // ones.
    def sweep(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p).iterator()
        while (it.hasNext) sweep(it.next())
      } else if (!live.contains(identityOf(p.toString))) {
        Files.deleteIfExists(p); dataRemoved += 1
      }
    }
    sweep(dataDir)
    var manifestsRemoved = 0
    val mit = Files.list(manifestDir).iterator()
    while (mit.hasNext) {
      val p = mit.next()
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.stripPrefix("v").forall(_.isDigit) &&
          !heads.contains(n.stripPrefix("v").toInt)) {
        deleteRecursively(p); manifestsRemoved += 1
      }
    }
    (dataRemoved, manifestsRemoved)
  }
}

object CowTable {
  /** Per-file column statistics stored in bucketed manifests (r17):
    * min/max as strings (re-typed at scan), null count, value count. */
  final case class ColStat(min: String, max: String, nulls: Long, cnt: Long)

  /** Structured Streaming sink adapter:
    * `df.writeStream.foreachBatch(CowTable.streamInto(t)).start()` — each
    * micro-batch lands as one idempotent CoW INSERT (restart replays are
    * no-ops; see insertStreamBatch). */
  def streamInto(t: CowTable): (DataFrame, Long) => Unit =
    (df, batchId) => { t.insertStreamBatch(df, batchId); () }

  /** A WHEN MATCHED case: optional AND-condition (SQL text over the two
    * aliases), DELETE flag, or the SET map (lowercase target column → SQL
    * text; SET * arrives pre-expanded by the front door). */
  final case class WhenMatched(condSql: Option[String], deleteAction: Boolean,
      set: Map[String, String])

  /** A WHEN NOT MATCHED case: optional AND-condition and the insert column
    * list (lowercase) with positionally matching value SQL texts; INSERT *
    * / bare VALUES arrive pre-expanded by the front door. */
  final case class WhenNotMatched(condSql: Option[String], cols: Seq[String],
      vals: Seq[String])

  /** CREATE TABLE AS: materialize `df` as version 1. `partitionBy` fixes
    * hive-style partition columns for the table's lifetime (the reference
    * connectors' `partitioned_by` property). */
  /** Bucket layout spec: `bucketed_by` columns, `bucket_count`, optional
    * `sorted_by` columns. */
  final case class BucketSpec0(cols: Seq[String], count: Int, sortCols: Seq[String])

  def create(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      bucketBy: Seq[String] = Seq.empty, bucketCount: Int = 0,
      sortedBy: Seq[String] = Seq.empty): CowTable = {
    import spark.implicits._
    Files.createDirectories(Paths.get(root, "data"))
    Files.createDirectories(Paths.get(root, "_manifests"))
    if (partitionBy.nonEmpty) {
      val missing = partitionBy.filterNot(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"partitioned_by columns not in table: ${missing.mkString(", ")}")
      Files.write(Paths.get(root, "_partitioning"),
        partitionBy.mkString(",").getBytes)
      ()
    }
    if (bucketBy.nonEmpty) {
      require(bucketCount > 0,
        "bucketed_by requires a positive bucket_count")
      val missing = (bucketBy ++ sortedBy).filterNot(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"bucketed_by/sorted_by columns not in table: ${missing.mkString(", ")}")
      Files.write(Paths.get(root, "_bucketing"),
        s"$bucketCount\n${bucketBy.mkString(",")}\n${sortedBy.mkString(",")}".getBytes)
      Files.write(Paths.get(root, "_table_schema"), df.schema.toDDL.getBytes)
      ()
    }
    val t = new CowTable(root, spark) // after _partitioning: the val reads it
    Seq.empty[String].toDF("path")
      .write.mode("overwrite").parquet(Paths.get(root, "_manifests", "v0").toString)
    Files.write(Paths.get(root, "_manifests", "CURRENT"), "0".getBytes)
    t.insert(df)
    t
  }

  def open(spark: SparkSession, root: String): CowTable = new CowTable(root, spark)

  /** input_file_name() returns a URI; manifests store plain paths. */
  private def normalize(uri: String): String =
    if (uri.startsWith("file:")) Paths.get(java.net.URI.create(uri)).toString else uri

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p).iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }
    Files.deleteIfExists(p)
  }
}
