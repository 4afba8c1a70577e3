package graft.operators

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for 100 TB corpora — the ingest-time decisions that
  * make every later query cheap:
  *
  *  - **Partition columns** (`writePartitioned`): low-cardinality filter
  *    keys (lang, source, date) become directory partitions, so a filtered
  *    read prunes whole directories (`PartitionFilters` in the scan, zero
  *    I/O for pruned values) instead of scanning 100 TB to discard rows.
  *  - **Bucketing** (`writeBucketed`): high-cardinality JOIN/GROUP keys
  *    (doc_id, user_id) hash rows into a fixed bucket count at write time.
  *    Two tables bucketed on the same key/count join with NO exchange on
  *    either side — the shuffle is paid once at ingest, not per query. The
  *    same layout serves repeated dedup/join/aggregate passes.
  *
  * The reference has no storage layer at all (it streams records through
  * memory); this module is pure Spark-native scale engineering.
  */
object Layout {

  /** The Hadoop settings every store write graft owns carries: `file:`
    * paths resolve to [[LocalFs]], which creates files and directories
    * without forking `chmod`. The cache is disabled for the scheme because
    * `FileSystem.get` caches one instance per scheme, authority and user:
    * the impl key alone would return the session's cached FileSystem.
    * Only `file:` is affected; HDFS and object-store paths keep theirs.
    * Never set on the session, so the embedding application's own I/O
    * keeps its FileSystem.
    */
  private val localFsConf = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` for a graft store or layout write. Spark folds data-source
    * options into the write job's Hadoop conf, so the job's tasks and its
    * committer create files through [[localFsConf]]'s FileSystem. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(localFsConf)

  /** The FileSystem of `path` under the session's Hadoop conf plus
    * [[localFsConf]]: for the files a store mutation creates on the
    * driver. */
  private def storeFs(spark: SparkSession,
                      path: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    localFsConf.foreach { case (k, v) => conf.set(k, v) }
    path.getFileSystem(conf)
  }

  /** Directory-partitioned parquet: one directory per distinct combination
    * of `partitionCols`. Keep cardinality low (≤ a few thousand dirs).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    writer(df).mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Hash-bucketed (and per-bucket sorted) table in the session catalog.
    * Joins and aggregations keyed on `bucketCol` across tables with the
    * SAME bucket count read co-partitioned — no exchange. Sorting within
    * buckets additionally drops the sort from sort-merge joins.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Replace a parquet directory by temp-write + rename — the
    * smallest-window spelling of "overwrite this small table" available
    * on a filesystem without transactions. A plain
    * `write.mode("overwrite")` deletes the destination and then runs a
    * whole write JOB into it: a crash anywhere in that job leaves the
    * directory missing or half-written, and for stores whose commit
    * signal is this very table's `_SUCCESS` (stats for BM25, codebook
    * for IVF) that silently flips the next ingest onto the BUILD branch
    * — which static-overwrites away all history. Writing the
    * replacement BESIDE the destination first shrinks the unprotected
    * window to one delete + one rename (rename is atomic on HDFS and
    * local filesystems): a crash before the delete leaves the old table
    * fully intact, after it the complete replacement sits at
    * `dest__replacing` for loud manual recovery. Callers pre-shape the
    * frame (coalesce/repartition) — this writes it as given.
    */
  def replaceDir(df: DataFrame, dest: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dest + "__replacing")
    val w = writer(df).mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(destPath, true)
    require(fs.rename(tmp, destPath), s"rename $tmp -> $destPath failed")
  }

  /** Whether `path` exists — the one store-file probe, resolved through
    * the Hadoop FileSystem API so an HDFS/S3 store path is probed where it
    * lives (a `java.io.File` probe would silently miss it forever).
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether a committed table exists at `path`: its `_SUCCESS` marker
    * is the commit protocol's own completeness signal, so a half-written
    * index never gates or reads as a store to merge into (an ingest that
    * took it for one would merge instead of rebuilding).
    */
  def indexExists(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** Read the one-row record a store freezes at `dir` (its layout knobs,
    * its build config, its rerank linkage, the BM25 `stats` row) with the
    * record's known `ddl` schema, on the driver ([[readRows]]), so a
    * record read runs no Spark job. None when the store carries no such
    * record (or it holds no row); a column that an older store's record
    * lacks reads as null, for the caller's documented fallback.
    */
  def readRecord(spark: SparkSession, dir: String, ddl: String): Option[Row] =
    readRows(spark, dir, ddl).headOption

  /** Every row of the small parquet table at `dir` as rows of the known
    * `ddl` schema, read on the driver: the parquet files are read straight
    * through the Hadoop FileSystem, in file-name order, and no Spark job
    * runs. Empty when `dir` does not exist. A column a file lacks reads as
    * null. `_SUCCESS`, checksum and other `_`/`.` entries are skipped, as
    * Spark's reader skips them. Columns are INT, BIGINT or STRING. Meant
    * for a store's records and its few-row stats tables only.
    */
  def readRows(spark: SparkSession, dir: String, ddl: String): Seq[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      fs.listStatus(p).filter(s => s.isFile && !hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).toSeq
        .flatMap(rowsOf(_, conf, schema))
    }
  }

  /** The rows of one parquet file as rows of `schema`. */
  private def rowsOf(file: org.apache.hadoop.fs.FileStatus,
                     conf: org.apache.hadoop.conf.Configuration,
                     schema: org.apache.spark.sql.types.StructType)
      : Seq[Row] = {
    import org.apache.parquet.example.data.Group
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      def rowOf(g: Group): Row = {
        val values = schema.fields.map { f =>
          if (!fileSchema.containsField(f.name)) null
          else {
            val i = fileSchema.getFieldIndex(f.name)
            if (g.getFieldRepetitionCount(i) == 0) null
            else f.dataType match {
              case IntegerType => g.getInteger(i, 0)
              case LongType => g.getLong(i, 0)
              case StringType => g.getString(i, 0)
              case t => throw new IllegalArgumentException(
                s"record column ${f.name} has unsupported type ${t.sql}")
            }
          }
        }
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          values.asInstanceOf[Array[Any]], schema)
      }
      Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
        .flatMap { rg =>
          val records = new org.apache.parquet.io.ColumnIOFactory()
            .getColumnIO(fileSchema)
            .getRecordReader(rg, new org.apache.parquet.example.data.simple
              .convert.GroupRecordConverter(fileSchema))
          Iterator.fill(rg.getRowCount.toInt)(rowOf(records.read()))
        }.toVector
    } finally reader.close()
  }

  /** Spark's file source skips entries whose name starts with `_` or `.`
    * (`_SUCCESS`, checksum files). */
  private def hidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  /** Read the parquet table at `dir` (partition columns included).
    * Spark's file source checks the paths it is handed by NAME and warns
    * "All paths were ignored" when every one starts with `_` or `.` — the
    * filter meant for `_SUCCESS` and checksum files, which every
    * store-internal directory (`_graft_layout`, `_graft_codebook`,
    * `_graft_ids`, ...) trips on each read. Such a directory is read
    * through its own data entries (files, or partition directories) with
    * itself as the base path: the same rows and columns, the same jobs,
    * and no warning.
    */
  def readTable(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val entries =
      if (!hidden(p.getName)) Array.empty[String]
      else p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath).filterNot(e => hidden(e.getName))
        .map(_.toString)
    if (entries.isEmpty) spark.read.parquet(dir)
    else spark.read.option("basePath", dir).parquet(entries.toIndexedSeq: _*)
  }

  /** Write a store's one-row record to `dir` through [[replaceDir]], so a
    * write that dies before its rename leaves the previous record
    * readable. */
  def writeRecord(df: DataFrame, dir: String): Unit =
    replaceDir(df.coalesce(1), dir)

  /** A fully-prepared per-directory rewrite: the replacement rows are
    * MATERIALIZED (localCheckpoint) at plan time, so everything that can
    * fail for data reasons — reads, joins, spills — fails before the
    * caller's first mutating write. [[execDirRewrite]] then only writes.
    */
  final case class PlannedRewrite(dirPath: String, part: String,
                                  replacement: DataFrame, keep: Set[Int],
                                  hitDirs: Seq[Int], schemaSrc: DataFrame)

  /** Prepare a rewrite of the `hitDirs` directories of a
    * `part`-partitioned table with `replacement` (already restricted to
    * those directories). When `sortCols` is given the replacement is
    * re-clustered one-task-per-directory and sorted within partitions by
    * (part, sortCols) — preserving the write path's intra-file sort so
    * parquet row-group min/max pruning survives the rewrite.
    */
  def planDirRewrite(spark: org.apache.spark.sql.SparkSession,
                     dirPath: String, part: String, replacement: DataFrame,
                     hitDirs: Seq[Int], schemaSrc: DataFrame,
                     sortCols: Seq[String] = Nil): PlannedRewrite = {
    val shaped =
      if (sortCols.isEmpty) replacement
      else replacement.repartition(col(part))
        .sortWithinPartitions((part +: sortCols).map(col): _*)
    val rows = shaped.localCheckpoint()
    val keep = rows.select(col(part).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    PlannedRewrite(dirPath, part, rows, keep, hitDirs, schemaSrc)
  }

  /** Plan the survivors-only erasure rewrite of the `hitDirs` directories
    * (drop every row whose `idCol` is in `tomb`). Returns None when no
    * directory is hit (nothing to do).
    */
  def planCompaction(spark: org.apache.spark.sql.SparkSession,
                     dirPath: String, part: String, rows: DataFrame,
                     tomb: DataFrame, idCol: String, hitDirs: Seq[Int],
                     sortCols: Seq[String] = Nil): Option[PlannedRewrite] =
    if (hitDirs.isEmpty) None
    else Some(planDirRewrite(spark, dirPath, part,
      rows.filter(col(part).isInCollection(hitDirs))
        .join(broadcast(tomb), Seq(idCol), "left_anti"),
      hitDirs, rows, sortCols))

  /** Execute a [[PlannedRewrite]] — writes only, the prepared rows are
    * already on local disk. Dynamic partition overwrite only replaces
    * directories PRESENT in the written data, so directories the rewrite
    * fully empties are removed explicitly; if nothing at all survives,
    * one zero-row schema-bearing file parks under a sentinel directory no
    * real key can hash to (buckets and centroid ids are >= 0) so the path
    * stays readable.
    */
  def execDirRewrite(spark: org.apache.spark.sql.SparkSession,
                     pr: PlannedRewrite): Unit = {
    writer(pr.replacement).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(pr.part).parquet(pr.dirPath)
    val fs = new org.apache.hadoop.fs.Path(pr.dirPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pr.hitDirs.filterNot(pr.keep).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(pr.dirPath, s"${pr.part}=$b"),
        true)
    }
    val anyLeft = fs.listStatus(new org.apache.hadoop.fs.Path(pr.dirPath))
      .exists(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"${pr.part}="))
    if (!anyLeft)
      writer(pr.schemaSrc.limit(0).drop(pr.part).repartition(1))
        .mode("overwrite").parquet(s"${pr.dirPath}/${pr.part}=-1")
  }

  /** The distinct `part` directory values of `hit` (collect is bounded
    * by the table's directory count). */
  def partitionHits(hit: DataFrame, part: String): Seq[Int] =
    hit.select(col(part).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** The intake of every erasure: refuse a store carrying the pending
    * marker, then read the rows at `dir` (the store itself or its id
    * sidecar) and cast the tombstone ids to THEIR id type. xxhash64 and
    * pmod are type-sensitive (an int and a long with the same value hash
    * differently), so a batch delivered as another numeric type (csv
    * inferSchema int vs parquet long) would derive the wrong directories
    * and silently erase nothing. try_cast: an id outside the type's range
    * cannot be a member, and under ANSI a plain cast would abort the
    * whole batch over it. Returns (rows at `dir`, typed distinct ids).
    */
  def typedTombstones(spark: SparkSession, path: String, dir: String,
                      tombstones: DataFrame,
                      idCol: String): (DataFrame, DataFrame) = {
    refuseIfPending(spark, path)
    val rows = readTable(spark, dir)
    val idType = rows.schema(idCol).dataType
    (rows, tombstones
      .select(expr(s"try_cast(`$idCol` AS ${idType.sql})").as(idCol))
      .filter(col(idCol).isNotNull).distinct())
  }

  /** A tombstone batch located in a store's id sidecar: the typed ids,
    * the whole sidecar frame, the sidecar rows of the ids actually
    * present (checkpointed) and how many there are. */
  final case class Tombstones(ids: DataFrame, sidecar: DataFrame,
                              present: DataFrame, count: Long)

  /** The tombstone FINDER every sidecar-carrying store shares: the
    * [[typedTombstones]] intake against the sidecar at `sidecarDir`, the
    * sidecar read pruned to the ≤ |tombstones| `bucketCol` directories
    * (`pmod(xxhash64(id), buckets)`) the ids can live in, then one
    * broadcast semi-join whose result is checkpointed, so the mutation
    * that follows reads it without re-scanning a sidecar it is about to
    * rewrite. `buckets` is read only after the marker refusal; None (a
    * store that recorded no modulus) scans the whole sidecar. None when
    * no tombstone is present: ids never ingested are ignored, and a
    * re-run after a completed erasure is a no-op.
    */
  def findTombstones(spark: SparkSession, path: String, sidecarDir: String,
                     tombstones: DataFrame, idCol: String, bucketCol: String,
                     buckets: => Option[Int]): Option[Tombstones] = {
    val (side, ids) =
      typedTombstones(spark, path, sidecarDir, tombstones, idCol)
    val pruned = buckets.fold(side) { n =>
      val dirs = ids.select(pmod(xxhash64(col(idCol)), lit(n)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSeq
      side.filter(col(bucketCol).isInCollection(dirs))
    }
    val present = pruned.join(broadcast(ids), Seq(idCol), "left_semi")
      .localCheckpoint()
    val n = present.count()
    if (n == 0L) None else Some(Tombstones(ids, side, present, n))
  }

  private def pendingMarkerOf(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")

  /** The stale-marker refusal text shared by every store-mutation guard. */
  def pendingRefusal(path: String): String =
    s"$path holds an UNFINISHED mutation (stale ${pendingMarkerOf(path)}) " +
      "— a prior merge/forget died between its writes, or another writer " +
      "is running right now. The store may carry a partial mutation: " +
      "rebuild the index from source (delete the path and re-ingest) " +
      "before mutating it further, and run ONE writer per index."

  /** Refuse loudly when a store carries the pending marker — called by
    * consumers BEFORE they dispatch on a store's commit signal, because a
    * crashed mutation may have destroyed that very signal.
    */
  def refuseIfPending(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    require(!exists(spark, pendingMarkerOf(path).toString),
      pendingRefusal(path))

  /** Acquire the pending marker with `create(overwrite = false)`. On HDFS
    * that is an atomic create-exclusive, so two concurrent writers racing
    * past any earlier exists() probe still serialize here — exactly one
    * wins, the loser gets the same loud refusal as a stale-marker
    * restart. On the local filesystem and several object-store connectors
    * the call is check-then-create INSIDE one invocation — it still
    * refuses reliably against a marker that is already down (the
    * single-writer contract's failure mode), but it is NOT a cross-JVM
    * lock there; run one writer per index regardless. Those filesystems
    * may also signal an existing file with a plain IOException rather
    * than FileAlreadyExistsException, so existence is re-checked on any
    * IOException before deciding between refusal and propagation.
    */
  private def acquirePendingMarker(
      f: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path, path: String): Unit =
    try f.create(marker, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalArgumentException(pendingRefusal(path))
      case e: java.io.IOException =>
        if (f.exists(marker))
          throw new IllegalArgumentException(pendingRefusal(path))
        else throw e
    }

  /** Run a store mutation under the `_graft_merge_pending` marker (see
    * [[acquirePendingMarker]] for the acquisition contract), split into
    * PREPARE (reads, joins, localCheckpoints — everything that can fail
    * for data reasons) and MUTATE (writes only) — the one fence every
    * store mutation takes. Both run under the marker, so the mutual
    * exclusion covers the whole read-compute-write span — but a failure
    * inside `prepare` DELETES the marker before rethrowing, because
    * nothing has been written yet and leaving it would permanently brick
    * an untouched store (a cancelled job or an OOM-killed stage during
    * planning would otherwise force a manual rebuild for no reason). A
    * failure inside `mutate` leaves the marker: some writes may have
    * landed, and the marker is what makes retrying the mutation loud
    * instead of silently double-applying it.
    */
  def withPendingMarkerStaged[P, A](spark: org.apache.spark.sql.SparkSession,
                                    path: String)(prepare: => P)(
                                    mutate: P => A): A = {
    val marker = pendingMarkerOf(path)
    val f = storeFs(spark, marker)
    acquirePendingMarker(f, marker, path)
    val p =
      try prepare
      catch {
        case e: Throwable =>
          try f.delete(marker, false)
          catch { case del: java.io.IOException => e.addSuppressed(del) }
          throw e
      }
    val r = mutate(p)
    f.delete(marker, false)
    r
  }

  /** Local properties a pool thread takes over from the caller: the job
    * group, description, interrupt flag and tags are what
    * `cancelJobGroup`/`cancelJobsWithTag` and the UI key on.
    */
  private val callerProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** Set while a thread runs inside a SQL execution; a pool thread that
    * carried one over would file its own queries under that execution.
    */
  private val executionProps =
    Seq("spark.sql.execution.id", "spark.sql.execution.root.id")

  /** Run independent driver-side steps of one store mutation at the same
    * time, one pool thread each, and return their results in order. Each
    * thread carries the caller's job group and interrupt flag (so
    * cancelling the caller's group reaches every step's jobs) and never a
    * SQL execution id. Every step is waited for, also after one fails, and
    * the pool is shut down before this returns or throws: no job started
    * here outlives the call, which is what lets a caller delete or keep its
    * pending marker knowing nothing is still writing. The first failure is
    * rethrown with the others attached as suppressed.
    */
  private def concurrently(spark: org.apache.spark.sql.SparkSession)(
      steps: (() => Any)*): Seq[Any] = {
    val sc = spark.sparkContext
    val props = callerProps.map(k => k -> sc.getLocalProperty(k))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size,
      { (r: Runnable) =>
        val t = new Thread(r, "graft-store-step")
        t.setDaemon(true)
        t
      })
    try {
      val running = steps.map { step =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          def call(): Any = {
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            executionProps.foreach(sc.setLocalProperty(_, null))
            step()
          }
        })
      }
      val outcomes = running.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally {
      pool.shutdown()
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)) ()
    }
  }

  /** [[concurrently]] for three steps. */
  def concurrently3[A, B, C](spark: org.apache.spark.sql.SparkSession)(
      a: => A, b: => B, c: => C): (A, B, C) =
    concurrently(spark)(() => a, () => b, () => c) match {
      case Seq(x, y, z) =>
        (x.asInstanceOf[A], y.asInstanceOf[B], z.asInstanceOf[C])
    }

  /** Morton (Z-order) interleave of two `bits`-bit non-negative dims into
    * one sort key: x in the even bit positions, y in the odd. Data sorted
    * by this key clusters rows that are close in BOTH dims into the same
    * parquet row groups, so a 2-D box predicate — which no single-column
    * sort can serve — prunes via ordinary min/max statistics once the box
    * is decomposed into z ranges ([[zRanges]]). Pure codegen'd bit
    * arithmetic (shift/and/or), no UDF.
    */
  def morton(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1)).cast("long"),
          2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1)).cast("long"),
          2 * i + 1))
    }

  /** Exact cover of the 2-D box [xlo..xhi] × [ylo..yhi] by disjoint,
    * sorted, merged Z-value ranges over a `bits`-bit grid: the classic
    * quadtree decomposition (an aligned 2^k cell is one CONTIGUOUS z run
    * of length 4^k, so recurse only on cells that straddle the boundary).
    * Range count is O(perimeter) — bounded by ~6·2^bits after merging —
    * and membership is exact: z(x, y) falls inside some range IFF (x, y)
    * is in the box (property-tested exhaustively at bits = 4). Runs
    * driver-side over grid CELLS (never data); the ranges become ordinary
    * pushed-down BETWEEN predicates on the z column.
    */
  def zRanges(xlo: Int, xhi: Int, ylo: Int, yhi: Int,
              bits: Int): Seq[(Long, Long)] = {
    require(bits > 0 && bits <= 16, s"bits out of range: $bits")
    require(0 <= xlo && xlo <= xhi && xhi < (1 << bits) &&
      0 <= ylo && ylo <= yhi && yhi < (1 << bits),
      s"box out of the $bits-bit grid: [$xlo..$xhi]x[$ylo..$yhi]")
    def interleave(x: Int, y: Int): Long = {
      var z = 0L; var i = 0
      while (i < bits) {
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
        i += 1
      }
      z
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def rec(cx: Int, cy: Int, size: Int): Unit = {
      val x2 = cx + size - 1; val y2 = cy + size - 1
      if (x2 < xlo || cx > xhi || y2 < ylo || cy > yhi) ()
      else if (cx >= xlo && x2 <= xhi && cy >= ylo && y2 <= yhi) {
        val lo = interleave(cx, cy)
        out += ((lo, lo + size.toLong * size - 1))
      } else {
        val h = size / 2
        rec(cx, cy, h); rec(cx + h, cy, h)
        rec(cx, cy + h, h); rec(cx + h, cy + h, h)
      }
    }
    rec(0, 0, 1 << bits)
    out.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((alo, ahi) :: rest, (lo, hi)) if lo == ahi + 1 =>
        (alo, hi) :: rest
      case (acc, r) => r :: acc
    }.reverse
  }

  /** OR-of-BETWEENs predicate over [[zRanges]] output — stays inside
    * parquet filter pushdown (each leg is a plain range on one column).
    */
  def zRangePredicate(z: Column, ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (lo, hi) => z.between(lo, hi) }.reduce(_ || _)
}
