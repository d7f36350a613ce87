package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the reference's edge text format
  * (`src dst [w]` lines, `#` comments — /root/reference/examples/
  * motif.rs:82-103) — the "real connector" form of [[graft.sources
  * .EdgeTextSource]]'s text-projection shortcut.
  *
  * What V2 buys at scale, and what this implements:
  *   - one `InputPartition` PER SHARD FILE → a 10K-shard edge dump reads
  *     with 10K-way parallelism, no driver-side line handling;
  *   - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): a degree count
  *     that only needs `src` never materializes `dst`/`w`;
  *   - FILTER PUSHDOWN (`SupportsPushDownFilters`): =, <, <=, >, >=,
  *     IsNotNull on src/dst/w evaluate inside the partition reader,
  *     before rows reach Spark — the scan output is already filtered
  *     (pushed filters are reported exact, so Catalyst plans no residual
  *     Filter for them);
  *   - SNAPSHOT / TIME-TRAVEL reads over the streaming sink's
  *     epoch-committed shard history (the engine's Iceberg-table
  *     stand-in): `.option("asOfEpoch", e)` plans ONLY the shards
  *     committed at epochs <= e (epoch-less batch-committed shards are
  *     the base snapshot and are always included). Because an epoch's
  *     shards are published atomically by a driver-side rename and never
  *     rewritten, an as-of read is a consistent snapshot — no reader
  *     ever observes a half-committed epoch, exactly Iceberg's
  *     snapshot-isolation contract re-expressed on shard files;
  *   - an `_epoch` METADATA COLUMN (`SupportsMetadataColumns`, the
  *     DSv2 analog of Iceberg's `_file`/`_spec_id`): hidden from `*`,
  *     resolvable by name, evaluated per-shard in the reader (constant
  *     per partition, zero per-row parse cost) — `GROUP BY _epoch` is
  *     the commit-history audit query;
  *   - [[EdgeTextV2.snapshots]] — the snapshots metadata listing
  *     (epoch, n_shards, bytes), Iceberg's `.snapshots` table analog;
  *   - [[EdgeTextV2.compact]] — COMPACTION + SNAPSHOT EXPIRY (Iceberg's
  *     rewrite_data_files/expire_snapshots; the storage-layer twin of
  *     the engine's Index::merge_to): epochs <= upTo fold distributed
  *     into a fresh base generation, published by ONE atomic marker
  *     rename; every crash window leaves the table either fully old or
  *     fully new, never doubled or halved;
  *   - PER-SHARD COLUMN STATS + DATA SKIPPING (Iceberg's per-file
  *     lower/upper bounds in the manifest): every shard the connector
  *     writes carries a [[EdgeTextV2.ShardStats]] trailer — a final
  *     `# graft-stats v1 …` comment line with min/max of src/dst/w and
  *     the row count. Planning with a pushed range/equality predicate
  *     tail-reads candidates' trailers and DROPS shards the bounds prove
  *     empty before a data byte is read. Riding INSIDE the shard makes
  *     the stats atomically consistent with the data through every
  *     rename (epoch publish, compaction adoption, truncate) with zero
  *     extra commit choreography; shards without a trailer (legacy or
  *     hand-written) are simply never skipped, and every reader skips
  *     the line as an ordinary comment;
  *   - SCAN-REPORTED STATISTICS (`SupportsReportStatistics`): the scan
  *     reports the byte size of the PLANNED (epoch- and stats-pruned)
  *     shard set, plus the exact row count when every planned shard has
  *     a trailer — so Catalyst auto-broadcasts a small (or heavily
  *     pruned) edge table instead of defaulting to Long.MaxValue and
  *     sort-merge-joining it.
  *
  * Usage: `spark.read.format("graft.sources.v2.EdgeTextV2")
  * .option("path", dir).load()`. */
class EdgeTextV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EdgeTextV2.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new EdgeTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object EdgeTextV2 {
  // nullable so nullable upstream plans can write through the connector
  // (the reader itself never emits nulls — malformed rows are skipped)
  val schema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = true),
    StructField("dst", LongType, nullable = true),
    StructField("w", LongType, nullable = true)))

  /** Per-shard column statistics — Iceberg's per-file lower/upper bounds
    * and record count, carried as a final comment line INSIDE the shard
    * (`# graft-stats v1 count=N src=a..b dst=a..b w=a..b`). The trailer
    * is written by the task that wrote the rows, so it can never be
    * stale, orphaned, or attributed to the wrong file — it survives the
    * staging rename, epoch publish, compaction adoption and truncate
    * untouched, and every reader (this connector, EdgeTextSource, the
    * reference's own parser) skips it as a comment. */
  final case class ShardStats(count: Long, minSrc: Long, maxSrc: Long,
                              minDst: Long, maxDst: Long,
                              minW: Long, maxW: Long) {
    def line: String =
      s"# graft-stats v1 count=$count src=$minSrc..$maxSrc " +
        s"dst=$minDst..$maxDst w=$minW..$maxW"
    private[v2] def lo(col: String): Long =
      col match { case "src" => minSrc; case "dst" => minDst; case _ => minW }
    private[v2] def hi(col: String): Long =
      col match { case "src" => maxSrc; case "dst" => maxDst; case _ => maxW }
    /** Can any row of a shard with these bounds satisfy every pushed
      * predicate? Bounds prove absence only — a non-stat column or an
      * unhandled shape always admits (`Not` included: bounds cannot
      * refute a negation without per-value knowledge). `_epoch` is
      * handled by the planner's epoch pruning, not here. */
    def admits(pushed: Array[Filter]): Boolean =
      count > 0 && pushed.forall(admitsOne)
    private def admitsOne(f: Filter): Boolean = f match {
      case EqualTo(a, v: Number) if statCol(a) =>
        lo(a) <= v.longValue() && v.longValue() <= hi(a)
      case GreaterThan(a, v: Number) if statCol(a) => hi(a) > v.longValue()
      case GreaterThanOrEqual(a, v: Number) if statCol(a) => hi(a) >= v.longValue()
      case LessThan(a, v: Number) if statCol(a) => lo(a) < v.longValue()
      case LessThanOrEqual(a, v: Number) if statCol(a) => lo(a) <= v.longValue()
      case And(l, r) => admitsOne(l) && admitsOne(r)
      case Or(l, r) => admitsOne(l) || admitsOne(r)
      case _ => true
    }
  }
  private[v2] def statCol(a: String): Boolean =
    a == "src" || a == "dst" || a == "w"
  /** Does this pushed set contain anything shard stats could refute?
    * Gates the per-shard trailer read — a scan with no stat-column
    * predicates never pays the tail-read I/O. */
  private[v2] def statsUsable(pushed: Array[Filter]): Boolean =
    pushed.exists(statsUsableOne)
  private def statsUsableOne(f: Filter): Boolean = f match {
    case EqualTo(a, _: Number) => statCol(a)
    case GreaterThan(a, _: Number) => statCol(a)
    case GreaterThanOrEqual(a, _: Number) => statCol(a)
    case LessThan(a, _: Number) => statCol(a)
    case LessThanOrEqual(a, _: Number) => statCol(a)
    // And/Or can refute when EITHER branch can (Or refutes only if both
    // branches do, but one usable branch is enough to justify the read)
    case And(l, r) => statsUsableOne(l) || statsUsableOne(r)
    case Or(l, r) => statsUsableOne(l) || statsUsableOne(r)
    case _ => false
  }
  /** Evaluates only the `_epoch`-attributed pushed predicates against a
    * shard's constant epoch; every other predicate admits the shard.
    * Shared by the row scan's manifest pruning and the aggregate
    * pushdown's shard selection (both must see the same snapshot). */
  private[v2] def epochPredAdmits(pushed: Array[Filter], epoch: Long): Boolean =
    pushed.forall {
      case EqualTo("_epoch", v: Number) => epoch == v.longValue()
      case GreaterThan("_epoch", v: Number) => epoch > v.longValue()
      case GreaterThanOrEqual("_epoch", v: Number) => epoch >= v.longValue()
      case LessThan("_epoch", v: Number) => epoch < v.longValue()
      case LessThanOrEqual("_epoch", v: Number) => epoch <= v.longValue()
      case _ => true
    }

  /** Can any row of a shard with these bounds satisfy a RUNTIME filter
    * (DPP-injected `In`/`EqualTo` on a join key)? Conservative: an
    * unhandled shape, a non-stat column, or an empty value set admits.
    * Runtime pruning is an optimization only — un-pruned rows are still
    * discarded by the join itself — so admitting too much is safe and
    * admitting too little is the only bug this must avoid. */
  private[v2] def runtimeAdmits(st: ShardStats, fs: Array[Filter]): Boolean =
    st.count > 0 && fs.forall {
      case In(a, vs) if statCol(a) =>
        vs.exists {
          case v: Number => st.lo(a) <= v.longValue() && v.longValue() <= st.hi(a)
          case _ => true
        }
      case EqualTo(a, v: Number) if statCol(a) =>
        st.lo(a) <= v.longValue() && v.longValue() <= st.hi(a)
      case _ => true
    }

  private[v2] val StatsLine =
    ("""#\s*graft-stats v1 count=(\d+) src=(-?\d+)\.\.(-?\d+) """ +
      """dst=(-?\d+)\.\.(-?\d+) w=(-?\d+)\.\.(-?\d+)\s*""").r
  /** Reads a shard's stats trailer, if present: seek to the tail, take
    * the last non-blank line, parse. One short positioned read per
    * shard at PLANNING time — the same cost class as Iceberg's manifest
    * read, paid only when a stat-column predicate was pushed. Public as
    * the table's stats-audit surface (the per-file half of what
    * [[snapshots]] lists per epoch). */
  def readStats(file: String): Option[ShardStats] = {
    val p = new Path(file)
    val fs = FileSystem.get(p.toUri, new Configuration())
    val len = fs.getFileStatus(p).getLen
    if (len == 0) return None
    val window = math.min(len, 512L).toInt
    val buf = new Array[Byte](window)
    val in = fs.open(p)
    try in.readFully(len - window, buf) finally in.close()
    val tail = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    tail.split('\n').reverseIterator.map(_.trim).find(_.nonEmpty).flatMap {
      case StatsLine(c, s0, s1, d0, d1, w0, w1) =>
        Some(ShardStats(c.toLong, s0.toLong, s1.toLong,
          d0.toLong, d1.toLong, w0.toLong, w1.toLong))
      case _ => None
    }
  }

  // ---- bucketed layout (storage-partitioned joins) ---------------------

  /** Bucketed base shards: `bucket-<col>-<b>of<N>-<token>-<p>.txt`. The
    * layout is SELF-DESCRIBING — encoded only in shard names, no side
    * metadata: a table whose every live shard carries the same (col, N)
    * reports `bucket(N, col)` partitioning and its scan plans ONE
    * key-grouped partition per bucket, which is what lets Spark join two
    * such tables WITHOUT AN EXCHANGE (storage-partitioned join). Any
    * rewrite that loses the naming (compaction, DELETE/UPDATE/MERGE)
    * simply degrades the table to unpartitioned reads — correctness
    * never depends on the layout. */
  // the optional compact-<gen>- prefix: a compaction (or row-level
  // rewrite) of a bucketed table PRESERVES the layout — its generation
  // shards keep the bucket segment, so SPJ survives table maintenance
  private[v2] val BucketShard =
    """(?:compact-\d+-)?bucket-(src|dst|w)-(\d+)of(\d+)-.*\.txt""".r
  private[sources] def bucketOf(fileName: String): Option[(String, Int, Int)] =
    fileName match {
      case BucketShard(col, b, n) => Some((col, b.toInt, n.toInt))
      case _ => None
    }

  /** The DECLARED bucket spec (`CREATE TABLE … PARTITIONED BY
    * (bucket(N, col))`), persisted as a `_bucketspec` file — invisible
    * to readers like all underscore files, surviving truncate and
    * generation rewrites. It governs WRITES (every write without an
    * explicit conflicting option buckets accordingly); READS report
    * partitioning from the actual shard names, so a mixed or legacy
    * layout can never be mistaken for a grouped one. */
  private[v2] def declaredBuckets(path: String): Option[(String, Int)] = {
    val p = new Path(path, "_bucketspec")
    val fs = FileSystem.get(p.toUri, new Configuration())
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val s =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s.split(',') match {
        case Array(c, n) if statCol(c) => Some((c, n.toInt))
        case _ => None
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private[v2] def writeBucketSpec(fs: FileSystem, dir: Path,
                                  col: String, n: Int): Unit = {
    val out = fs.create(new Path(dir, "_bucketspec"), true)
    try out.write(s"$col,$n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Some((col, N)) iff EVERY live shard is bucket-named with the same
    * column and bucket count — the gate for reporting partitioning. */
  private[v2] def bucketLayoutOf(path: String): Option[(String, Int)] = {
    val shards =
      try EdgeScan.listShards(path)
      catch { case _: java.io.FileNotFoundException => return None }
    if (shards.isEmpty) return None
    val specs = shards.map(f => bucketOf(new Path(f).getName).map {
      case (col, _, n) => (col, n)
    })
    if (specs.forall(_.isDefined) && specs.distinct.length == 1) specs.head
    else None
  }

  /** Shard name for the metadata column and time travel: streaming-sink
    * shards are `part-<epoch>-<partition>.txt`; batch shards
    * (`part-<partition>.txt`) carry no epoch → None (base snapshot). */
  private[v2] val EpochShard = """part-(\d+)-\d+\.txt""".r
  private[v2] def epochOf(fileName: String): Option[Long] = fileName match {
    case EpochShard(e) => Some(e.toLong)
    case _ => None
  }
  /** `_epoch` value a reader emits: batch-committed base shards read as
    * -1 so they order before every streaming epoch. */
  private[v2] def epochValue(file: String): Long =
    epochOf(new Path(file).getName).getOrElse(-1L)

  /** The snapshots metadata listing — Iceberg's `.snapshots` table
    * analog: one row per commit epoch with shard count and byte size
    * (epoch -1 aggregates the base shards: batch-committed files plus
    * the live compaction generation, if any). Driver-side listing, same
    * O(shards) cost as planning a read — at production scale this is the
    * manifest scan every file source performs. */
  def snapshots(spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    val rows = EdgeScan.listShards(path)
      .groupBy(f => epochOf(new Path(f).getName).getOrElse(-1L))
      .map { case (e, fs) =>
        val conf = new Configuration()
        val bytes = fs.map { f =>
          val p = new Path(f); FileSystem.get(p.toUri, conf).getFileStatus(p).getLen
        }.sum
        (e, fs.length.toLong, bytes)
      }.toSeq.sortBy(_._1)
    import spark.implicits._
    rows.toDF("epoch", "n_shards", "bytes")
  }

  // ---- compaction (Iceberg's rewrite_data_files + expire_snapshots,
  // re-expressed on the shard history; the storage-layer twin of the
  // engine's Index::merge_to, /root/reference/src/index.rs) -------------

  /** Compacted data shards: `compact-<upTo>-<partition>.txt` (with a
    * preserved `bucket-<col>-<b>of<N>` segment when the consumed table
    * was bucketed). They read as the base snapshot (`_epoch` = -1) —
    * history at or below `upTo` has been folded into them. */
  private[v2] val CompactShard = """compact-(\d+)-.+\.txt""".r
  private[v2] def compactGenOf(fileName: String): Option[Long] = fileName match {
    case CompactShard(c) => Some(c.toLong)
    case _ => None
  }
  /** The atomic commit marker of a compaction generation: the single
    * rename of `compact-<upTo>.commit` into the directory publishes the
    * whole generation. Data files without their marker are invisible. */
  private[v2] val CompactMarker = """compact-(\d+)\.commit""".r
  private[v2] def markerName(upTo: Long): String = s"compact-$upTo.commit"

  /** Highest committed compaction generation in `dir`, if any. */
  private[v2] def committedUpTo(fs: FileSystem, dir: Path): Option[Long] = {
    val gens = fs.listStatus(dir).iterator
      .filter(_.isFile)
      .flatMap(_.getPath.getName match {
        case CompactMarker(c) => Some(c.toLong); case _ => None
      }).toSeq
    if (gens.isEmpty) None else Some(gens.max)
  }

  /** Fold every shard committed at epochs <= `upToEpoch` (including the
    * batch-committed base and any previous compaction generation) into a
    * fresh set of base shards — Iceberg's rewrite_data_files followed by
    * expire_snapshots, on the text-shard history.
    *
    * Crash-safe publish protocol (single writer, like every maintenance
    * op on a table without a catalog):
    *   1. the merged rows are written DISTRIBUTED through the connector's
    *      own batch writer into a scratch dir (per-task staged files,
    *      driver-commit renames — no driver funnel);
    *   2. the scratch shards are renamed into the live dir as
    *      `compact-<upTo>-<p>.txt` — readers IGNORE them (no marker yet);
    *   3. one rename publishes `compact-<upTo>.commit` — the atomic
    *      commit point: from this instant readers plan the new generation
    *      and exclude everything it consumed;
    *   4. consumed shards (epochs <= upTo, older compact generations and
    *      their markers) are deleted — best-effort expiry; a crash here
    *      leaves them on disk but INVISIBLE (step 3's rule), and the next
    *      compaction retries the cleanup.
    * A crash before step 3 leaves the table byte-identical to before.
    *
    * History at or below `upToEpoch` is expired: `asOfEpoch` below it
    * fails ("snapshot expired"), exactly Iceberg's contract. Not safe
    * under a concurrently RUNNING micro-batch stream of the same dir
    * (file-count offsets assume an append-only listing) — quiesce
    * streams first, as Iceberg requires for rewrites. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              upToEpoch: Long): Unit = {
    require(upToEpoch >= 0, s"upToEpoch must be >= 0, got $upToEpoch")
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    val committed = committedUpTo(fs, dir)
    committed.foreach(c => require(upToEpoch >= c,
      s"history at or below $c is already compacted (snapshot expired)"))
    if (committed.contains(upToEpoch)) return // idempotent re-run
    rewriteGeneration(spark, path, upToEpoch, keep = None)
  }

  /** COPY-ON-WRITE DELETE (SQL `DELETE FROM`, Iceberg's copy-on-write
    * row-delete regime): every live row failing `keep` is dropped by a
    * DISTRIBUTED rewrite of the live data into a fresh generation,
    * published by the same single marker rename as compaction — every
    * crash window leaves the table fully pre- or fully post-delete.
    * The generation consumes ALL live epochs (a delete applies to the
    * whole table), so prior snapshots are expired — the trade this
    * name-welded format makes vs Iceberg's manifest indirection, stated
    * rather than hidden. Same single-writer/quiesced-stream contract as
    * compact. */
  private[v2] def deleteWhere(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              keep: org.apache.spark.sql.Column): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    if (!fs.exists(dir)) return
    val maxLive = EdgeScan.listShards(path)
      .flatMap(f => epochOf(new Path(f).getName)).foldLeft(-1L)(math.max)
    val gen = math.max(committedUpTo(fs, dir).getOrElse(-1L), maxLive) + 1
    rewriteGeneration(spark, path, gen, keep = Some(keep))
  }

  private def rewriteGeneration(spark: org.apache.spark.sql.SparkSession,
                                path: String, upToEpoch: Long,
                                keep: Option[org.apache.spark.sql.Column]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    // a compaction of this generation that crashed before its marker
    // leaves uncommitted compact-<upTo> data files; clear them so the
    // step-2 renames cannot collide (rename never overwrites)
    fs.listStatus(dir).filter(_.isFile).foreach { s =>
      if (compactGenOf(s.getPath.getName).contains(upToEpoch))
        fs.delete(s.getPath, false)
    }

    // 1. distributed rewrite of the consumed rows into a scratch dir
    // (re-bucketed when the consumed table carried a bucket layout, so
    // the new generation keeps its SPJ eligibility)
    val scratch = new Path(dir, s"_compact-$upToEpoch-scratch")
    fs.delete(scratch, true)
    val bk = bucketLayoutOf(path)
    val merged = spark.read.format("graft.sources.v2.EdgeTextV2")
      .option("path", path).load()
    // plan only the consumed shards: the scan prunes on the pushed
    // _epoch predicate, so unconsumed epochs are never read
    import org.apache.spark.sql.functions.col
    val out = keep.foldLeft(merged.where(col("_epoch") <= upToEpoch))(_.where(_))
      .write.format("graft.sources.v2.EdgeTextV2")
      .option("path", scratch.toString).mode("overwrite")
    bk.fold(out) { case (c, n) => out.option("buckets", s"$n,$c") }.save()

    // 2.-4. adopt, marker-commit, expire
    val staged = fs.listStatus(scratch)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(p => (p.getPath, p.getPath.getName)).toSeq
    adoptGeneration(fs, dir, upToEpoch, staged, tmpDir = scratch)
    fs.delete(scratch, true)
  }

  /** Publishes `staged` files as generation `gen` (shared by compaction,
    * DELETE FROM, and the row-level UPDATE/MERGE writes):
    *
    *   2. adopt the staged files as the (not yet live) new generation;
    *   3. the atomic COMMIT POINT — one marker rename (a crash before it
    *      leaves the table fully old, after it fully new);
    *   4. expire everything the committed generation makes invisible:
    *      epochs <= gen, plain base shards, superseded compact data and
    *      markers. Computed from a fresh raw listing, so a retry (or the
    *      NEXT generation) also sweeps leftovers of a crashed cleanup. */
  private[v2] def adoptGeneration(fs: FileSystem, dir: Path, gen: Long,
                                  staged: Seq[(Path, String)],
                                  tmpDir: Path): Unit = {
    // each staged entry carries its LOGICAL shard name (task-attempt
    // suffixes stripped by the caller) so bucket segments are recognized
    staged.sortBy(_._2).zipWithIndex.foreach { case ((f, logical), i) =>
      // a bucketed staged shard keeps its bucket segment in the adopted
      // name, so the new generation still reports its layout (SPJ
      // survives compaction and row-level rewrites)
      val tag = bucketOf(logical).fold("") {
        case (col, b, n) => s"bucket-$col-${b}of$n-"
      }
      fs.rename(f, new Path(dir, f"compact-$gen-$tag$i%05d.txt"))
    }
    val markerTmp = new Path(tmpDir, markerName(gen))
    fs.create(markerTmp, true).close()
    fs.rename(markerTmp, new Path(dir, markerName(gen)))
    fs.listStatus(dir).filter(_.isFile).foreach { s =>
      val n = s.getPath.getName
      val invisible = n match {
        case CompactMarker(c) => c.toLong < gen
        case CompactShard(c) => c.toLong < gen
        case _ if n.startsWith("_") => false // foreign metadata, not ours
        case _ => epochOf(n).forall(_ <= gen)
      }
      if (invisible) fs.delete(s.getPath, false)
    }
  }

  /** The next unused generation number: one past every live epoch and
    * every committed compaction generation. */
  private[v2] def nextGeneration(path: String): Long = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    val maxLive = EdgeScan.listShards(path)
      .flatMap(f => epochOf(new Path(f).getName)).foldLeft(-1L)(math.max)
    math.max(committedUpTo(fs, dir).getOrElse(-1L), maxLive) + 1
  }

  /** Clears data files of an UNCOMMITTED generation `gen` (a crashed
    * earlier attempt), so adoption renames cannot collide. */
  private[v2] def clearUncommittedGen(fs: FileSystem, dir: Path, gen: Long): Unit =
    fs.listStatus(dir).filter(_.isFile).foreach { s =>
      if (compactGenOf(s.getPath.getName).contains(gen))
        fs.delete(s.getPath, false)
    }
}

/** `asOf`: a catalog-resolved snapshot pin (SQL `VERSION AS OF`), taking
  * precedence over the read option; a pinned table is read-only. */
private[v2] class EdgeTable(path: String, asOf: Option[Long] = None)
    extends Table
    with SupportsRead
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  require(path != null, "option 'path' is required")

  /** SQL UPDATE / MERGE INTO (and DELETEs whose predicates don't
    * translate to pushable filters): group-based copy-on-write rewrite
    * published as a marker-committed generation —
    * [[EdgeRowLevelOperation]]. Translatable DELETEs keep the cheaper
    * metadata path ([[deleteWhere]]) via Spark's metadata-only-delete
    * optimization. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"table ${name()} is a VERSION AS OF snapshot and cannot be written")
    () => new EdgeRowLevelOperation(path, info.command)
  }
  override def name(): String =
    s"graft_edges($path)" + asOf.fold("")(e => s"@$e")
  override def schema(): StructType = EdgeTextV2.schema
  /** A fully bucket-named shard set reports its `bucket(N, col)`
    * transform — resolved against [[EdgeCatalog]]'s function catalog,
    * this is what makes the table storage-partitioned-join eligible. */
  override def partitioning(): Array[Transform] = {
    val spec = EdgeTextV2.bucketLayoutOf(path).orElse {
      // an EMPTY table reports its declared spec (DESCRIBE before the
      // first insert); once data exists only the actual layout counts
      val empty =
        try EdgeScan.listShards(path).isEmpty
        catch { case _: java.io.FileNotFoundException => true }
      if (empty) EdgeTextV2.declaredBuckets(path) else None
    }
    spec.map { case (col, n) => Expressions.bucket(n, col): Transform }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def metadataColumns(): Array[MetadataColumn] =
    Array(EpochMetadataColumn)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdgeScanBuilder(path,
      asOf.orElse(Option(options.get("asofepoch")).map(_.trim.toLong)))

  /** SQL `DELETE FROM`: accepted only when every predicate translates to
    * a pushable src/dst/w filter (otherwise Spark reports the delete as
    * unsupported instead of silently dropping the wrong rows). The
    * delete itself is a distributed copy-on-write rewrite published as a
    * new marker-committed generation — see [[EdgeTextV2.deleteWhere]]. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => EdgeTable.toColumn(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      s"table ${name()} is a VERSION AS OF snapshot and cannot be written")
    import org.apache.spark.sql.functions.not
    val drop = filters.flatMap(EdgeTable.toColumn(_).toSeq)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    EdgeTextV2.deleteWhere(org.apache.spark.sql.SparkSession.active,
      path, keep = not(drop))
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty,
      s"table $name is a VERSION AS OF snapshot and cannot be written")
    new EdgeWriteBuilder(path, info.schema(),
      Option(info.options.get("layout")),
      Option(info.options.get("layoutPartitions")).map(_.toInt).getOrElse(0),
      Option(info.options.get("buckets")))
  }
}

private[v2] object EdgeTable {
  import org.apache.spark.sql.{functions => F}
  /** DELETE-predicate translation: the same numeric src/dst/w shapes the
    * scan pushes, as Columns over the rewrite frame; None = untranslatable
    * → canDeleteWhere refuses the whole delete. */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v: Number) if EdgeTextV2.statCol(a) =>
      Some(F.col(a) === v.longValue())
    case GreaterThan(a, v: Number) if EdgeTextV2.statCol(a) =>
      Some(F.col(a) > v.longValue())
    case GreaterThanOrEqual(a, v: Number) if EdgeTextV2.statCol(a) =>
      Some(F.col(a) >= v.longValue())
    case LessThan(a, v: Number) if EdgeTextV2.statCol(a) =>
      Some(F.col(a) < v.longValue())
    case LessThanOrEqual(a, v: Number) if EdgeTextV2.statCol(a) =>
      Some(F.col(a) <= v.longValue())
    case IsNotNull(a) if EdgeTextV2.statCol(a) => Some(F.lit(true))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** The `_epoch` metadata column (hidden from `*`, selectable by name) —
  * which streaming-sink commit published the row's shard; -1 for
  * batch-committed base shards. Per-shard constant: the reader stamps it
  * from the file name once per partition, no per-row cost. */
private[v2] object EpochMetadataColumn extends MetadataColumn {
  override def name(): String = "_epoch"
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "commit epoch of the shard holding this row (-1 = batch-committed base)"
}

private[v2] class EdgeScanBuilder(path: String, asOfEpoch: Option[Long])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = EdgeTextV2.schema
  private var pushed: Array[Filter] = Array.empty

  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _: Number) => isCol(a)
    case GreaterThan(a, _: Number) => isCol(a)
    case GreaterThanOrEqual(a, _: Number) => isCol(a)
    case LessThan(a, _: Number) => isCol(a)
    case LessThanOrEqual(a, _: Number) => isCol(a)
    case IsNotNull(a) => isCol(a) // vacuously true: columns are non-null
    // compound shapes push whole: Catalyst splits top-level ANDs itself,
    // so what arrives here is the OR (and NOT) structure a disjunctive
    // scan (`src = 5 OR dst < 3`) needs evaluated inside the readers —
    // and, for OR-of-ranges, refuted by shard stats at planning
    case And(l, r) => pushable(l) && pushable(r)
    case Or(l, r) => pushable(l) && pushable(r)
    case Not(c) => pushable(c)
    case _ => false
  }
  private def isCol(a: String): Boolean =
    a == "src" || a == "dst" || a == "w" || a == "_epoch"

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition(pushable)
    pushed = sup
    rest // only the unsupported remainder needs a post-scan Filter
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: METADATA-ONLY scans (Iceberg's answer-from-
  // manifest contract). COUNT(*)/COUNT(col)/MIN/MAX over src/dst/w —
  // optionally GROUP BY _epoch — are answered ENTIRELY from the per-shard
  // stats trailers: O(shards) positioned tail reads at planning time,
  // zero data bytes, zero tasks over rows. Exactness is the gate:
  // pushdown is declined unless (a) every pushed predicate is vacuous
  // (IsNotNull on non-null columns) or prunes WHOLE shards exactly
  // (_epoch comparisons — the same manifest pruning the row scan does),
  // and (b) every surviving shard carries a trailer. A declined pushdown
  // simply leaves Spark's ordinary aggregate over the row scan. --------

  /** (epoch, stats) of every shard the aggregate would cover; None when
    * any surviving shard lacks a trailer (exactness unprovable). */
  private lazy val aggShards: Option[Array[(Long, EdgeTextV2.ShardStats)]] = {
    val shards = EdgeScan.listShards(path)
      .filter(f => asOfEpoch.forall(a =>
        EdgeTextV2.epochOf(new Path(f).getName).forall(_ <= a)))
      .filter(f => EdgeTextV2.epochPredAdmits(pushed, EdgeTextV2.epochValue(f)))
      .map(f => (EdgeTextV2.epochValue(f), EdgeTextV2.readStats(f)))
    if (shards.forall(_._2.isDefined))
      Some(shards.map { case (e, s) => (e, s.get) })
    else None
  }

  private def aggCol(e: V2Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }
  private def aggSupported(f: AggregateFunc): Boolean = f match {
    case _: CountStar => true
    // COUNT(col) == COUNT(*) here: the reader never emits nulls
    case c: Count => !c.isDistinct &&
      aggCol(c.column).exists(c0 => EdgeTextV2.statCol(c0) || c0 == "_epoch")
    case m: Min => aggCol(m.column).exists(EdgeTextV2.statCol)
    case m: Max => aggCol(m.column).exists(EdgeTextV2.statCol)
    case _ => false
  }
  private def filtersVacuous: Boolean = pushed.forall {
    case IsNotNull(_) => true // vacuously true: columns are non-null
    case EqualTo("_epoch", _: Number) => true
    case GreaterThan("_epoch", _: Number) => true
    case GreaterThanOrEqual("_epoch", _: Number) => true
    case LessThan("_epoch", _: Number) => true
    case LessThanOrEqual("_epoch", _: Number) => true
    case _ => false // any row-level predicate makes trailer sums inexact
  }
  /** Some(true) = GROUP BY _epoch (per-shard constant → exact from the
    * manifest), Some(false) = global, None = unsupported grouping. */
  private def groupShape(agg: Aggregation): Option[Boolean] =
    agg.groupByExpressions() match {
      case Array() => Some(false)
      case Array(g) if aggCol(g).contains("_epoch") => Some(true)
      case _ => None
    }
  private def canPush(agg: Aggregation): Boolean =
    filtersVacuous && groupShape(agg).isDefined &&
      agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall(aggSupported) &&
      aggShards.isDefined

  private var aggResult: Option[(StructType, Array[Array[Any]])] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean = canPush(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPush(agg)) return false
    val byEpoch = groupShape(agg).get
    val funcs = agg.aggregateExpressions()
    val groups: Seq[(Option[Long], Array[EdgeTextV2.ShardStats])] =
      if (byEpoch)
        aggShards.get.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (e, a) => (Some(e), a.map(_._2)) }
          // GROUP BY emits no row for an epoch whose shards hold no rows
          .filter { case (_, sts) => sts.exists(_.count > 0) }
      else Seq((None, aggShards.get.map(_._2)))
    def value(sts: Array[EdgeTextV2.ShardStats], f: AggregateFunc): Any = f match {
      case _: CountStar => java.lang.Long.valueOf(sts.map(_.count).sum)
      case _: Count => java.lang.Long.valueOf(sts.map(_.count).sum)
      case m: Min =>
        val ne = sts.filter(_.count > 0)
        if (ne.isEmpty) null
        else java.lang.Long.valueOf(ne.map(_.lo(aggCol(m.column).get)).min)
      case m: Max =>
        val ne = sts.filter(_.count > 0)
        if (ne.isEmpty) null
        else java.lang.Long.valueOf(ne.map(_.hi(aggCol(m.column).get)).max)
      case _ => throw new IllegalStateException(s"unreachable: $f")
    }
    val rows: Array[Array[Any]] = groups.map { case (e, sts) =>
      e.map(v => java.lang.Long.valueOf(v): Any).toArray ++ funcs.map(value(sts, _))
    }.toArray
    // complete pushdown binds scan output POSITIONALLY: group-by columns
    // first, then one field per aggregate, types matching the catalyst
    // aggregate's (COUNT → non-null bigint, MIN/MAX → nullable bigint)
    val fields =
      (if (byEpoch) Seq(StructField("_epoch", LongType, nullable = false))
       else Nil) ++
        funcs.zipWithIndex.map {
          case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
          case (_: Count, i) => StructField(s"agg_$i", LongType, nullable = false)
          case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
        }
    aggResult = Some((StructType(fields), rows))
    true
  }

  // ---- LIMIT pushdown: each partition reader stops after `limit`
  // emitted rows instead of draining its shard — reported PARTIAL, so
  // Spark keeps its global Limit as the cross-partition cap. LIMIT 10
  // over a 10K-shard table reads ≤10 rows per shard, not 10K files. ----
  private var limit: Int = -1
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggResult match {
    case Some((sch, rows)) => new EdgeAggScan(path, sch, rows, pushed)
    case None => new EdgeScan(path, required, pushed, asOfEpoch, limit)
  }
}

/** The metadata-only scan a pushed aggregate plans: its rows were
  * computed from shard-stats trailers at planning time; execution is one
  * partition replaying them — the data files are never opened. */
private[v2] class EdgeAggScan(path: String, sch: StructType,
                              rows: Array[Array[Any]], pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = sch
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_edges path=$path, METADATA-ONLY AGGREGATE rows=${rows.length}, " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(EdgeAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    EdgeAggReaderFactory
}

private[v2] case class EdgeAggPartition(rows: Array[Array[Any]])
    extends InputPartition

private[v2] object EdgeAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[EdgeAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
  }
}

private[v2] class EdgeScan(path: String, required: StructType,
                           pushed: Array[Filter],
                           asOfEpoch: Option[Long],
                           limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_edges path=$path" +
      asOfEpoch.fold("")(e => s", AsOfEpoch: $e") +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      bucketGroups.fold("") { case (c, n, g) =>
        s", KeyGrouped: bucket($n, $c) over ${g.length} buckets" } +
      s", PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  /** Some((col, N, per-bucket file groups)) when every PLANNED shard is
    * bucket-named with one spec — the storage-partitioned-join path: the
    * scan plans ONE partition per bucket (each `HasPartitionKey`), and
    * [[outputPartitioning]] reports the `bucket(N, col)` transform, which
    * Spark resolves against [[EdgeCatalog]]'s function catalog. Derived
    * from `planned` (the epoch/stats-pruned set), so the report and the
    * partitions can never disagree. Pruning a shard never breaks the
    * grouping — a bucket's surviving files still hold every surviving row
    * of that bucket. */
  private lazy val bucketGroups: Option[(String, Int, Array[(Int, Array[String])])] = {
    val specs = planned.map { case (f, _) =>
      EdgeTextV2.bucketOf(new Path(f).getName)
    }
    if (planned.nonEmpty && specs.forall(_.isDefined) &&
        specs.map(_.get).map { case (c, _, n) => (c, n) }.distinct.length == 1) {
      val (col, _, n) = specs.head.get
      val groups = planned.map(_._1)
        .groupBy(f => EdgeTextV2.bucketOf(new Path(f).getName).get._2)
        .toArray.sortBy(_._1)
      Some((col, n, groups))
    } else None
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketGroups match {
      case Some((col, n, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.bucket(n, col)), groups.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(planned.length)
    }

  /** The planned shard set with its per-shard stats: epoch pruning
    * (snapshot/`_epoch` predicates against the per-shard constant) then
    * stats pruning (pushed range/equality predicates against the
    * shard's min/max trailer — read only when such a predicate exists;
    * a trailer-less shard is never skipped). Shared by partition
    * planning and reported statistics, so Catalyst's size estimate
    * reflects exactly the files the scan will read. */
  private lazy val planned: Array[(String, Option[EdgeTextV2.ShardStats])] = {
    val needStats = EdgeTextV2.statsUsable(pushed)
    EdgeScan.listShards(path)
      .filter(f => asOfEpoch.forall(a =>
        EdgeTextV2.epochOf(new Path(f).getName).forall(_ <= a)))
      .filter(f => epochAdmits(EdgeTextV2.epochValue(f)))
      .map(f => (f, if (needStats) EdgeTextV2.readStats(f) else None))
      .filter { case (_, st) => st.forall(_.admits(pushed)) }
  }

  /** One partition per shard file — the multi-file parallelism axis.
    * Under `asOfEpoch`, shards committed at later epochs are never even
    * planned (snapshot pruning at the manifest, not a row filter); pushed
    * `_epoch` predicates prune the same way — the `_epoch` value is a
    * per-shard constant, so a shard whose epoch fails the predicates can
    * be dropped before a single byte is read (Iceberg's partition
    * pruning, re-expressed on the shard manifest); pushed src/dst/w
    * bounds drop shards whose stats trailer proves them empty (Iceberg's
    * per-file data skipping). Row-level evaluation in the reader stays
    * as the correctness backstop for every pruned shard's survivors. */
  override def planInputPartitions(): Array[InputPartition] = {
    asOfEpoch.foreach { a =>
      val p = new Path(path)
      val fs = FileSystem.get(p.toUri, new Configuration())
      if (fs.getFileStatus(p).isDirectory)
        EdgeTextV2.committedUpTo(fs, p).foreach(c => require(a >= c,
          s"snapshot at epoch $a expired: history at or below $c was " +
            "compacted (Iceberg's expired-snapshot contract)"))
    }
    bucketGroups match {
      case Some((_, _, groups)) =>
        // key-grouped path: partitions must stay IDENTICAL across
        // re-plans (Spark re-plans after runtime filtering and the
        // key-grouped contract pins the partition-value set), so the
        // runtime file skip is disabled here — the join that injected
        // the filter discards the rows anyway
        groups.map { case (b, files) =>
          EdgeBucketPartition(files, b): InputPartition
        }
      case None =>
        val live =
          if (runtime.isEmpty) planned
          else planned.filter { case (f, st) =>
            // trailers may not have been read at static-planning time (no
            // stat-column predicate was pushed); one 512-byte tail read per
            // surviving shard buys the runtime skip. A trailer-less shard
            // is never skipped.
            st.orElse(EdgeTextV2.readStats(f))
              .forall(EdgeTextV2.runtimeAdmits(_, runtime))
          }
        live.map { case (f, _) => EdgeFilePartition(f): InputPartition }
    }
  }

  /** DPP / runtime group filtering (`SupportsRuntimeFiltering`): a
    * broadcast join on src/dst hands the scan the build side's key set
    * as an `In` filter at EXECUTION time; shards whose stats trailer
    * proves no key can fall in their bounds are dropped before a data
    * byte is read — Iceberg's dynamic file pruning on the shard
    * manifest. Rows of admitted shards are NOT filtered here (the join
    * itself discards them), so pruning stays a pure optimization. */
  @volatile private var runtime: Array[Filter] = Array.empty
  /** Only columns THIS scan outputs: Spark resolves these refs against
    * the pruned output, so advertising a pruned-away column makes DPP
    * planning fail on any query that narrows the scan (e.g. a count
    * over a join key). */
  override def filterAttributes(): Array[NamedReference] =
    Array("src", "dst").filter(required.fieldNames.contains(_))
      .map(Expressions.column)
  override def filter(filters: Array[Filter]): Unit = runtime = filters

  /** Post-pruning scan statistics: byte size of the planned shards, and
    * the exact pre-filter row count when every planned shard carries a
    * stats trailer. Without this a DSv2 relation defaults to
    * Long.MaxValue and a small (or snapshot-pruned) edge table can never
    * win a broadcast join. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val conf = new Configuration()
    private lazy val bytes: Long = planned.map { case (f, _) =>
      val p = new Path(f)
      FileSystem.get(p.toUri, conf).getFileStatus(p).getLen
    }.sum
    private lazy val rows: java.util.OptionalLong = {
      val sts = planned.map(_._2)
      if (sts.nonEmpty && sts.forall(_.isDefined))
        java.util.OptionalLong.of(sts.map(_.get.count).sum)
      else java.util.OptionalLong.empty()
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, bytes))
    override def numRows(): java.util.OptionalLong = rows
  }

  private def epochAdmits(epoch: Long): Boolean =
    EdgeTextV2.epochPredAdmits(pushed, epoch)

  override def createReaderFactory(): PartitionReaderFactory =
    new EdgeReaderFactory(required.fieldNames, pushed, limit)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOfEpoch.isEmpty,
      "asOfEpoch is a batch snapshot read; a stream tails the live shard " +
        "history (its offsets already replay each epoch exactly once)")
    new EdgeMicroBatchStream(path, required.fieldNames, pushed)
  }
}

private[v2] object EdgeScan {
  /** Stable (sorted) shard listing shared by the batch planner, the
    * streaming offset tracker, the snapshots listing and compaction.
    * Resolves the live compaction generation: with a committed marker at
    * gen c the valid set is {compact-c data shards} ∪ {epoch shards with
    * epoch > c} — everything else (consumed bases, expired epochs,
    * superseded or UNCOMMITTED compact data) is invisible, which is what
    * makes the marker rename the atomic commit point. */
  def listShards(path: String): Array[String] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, new Configuration())
    if (!fs.getFileStatus(p).isDirectory) return Array(p.toString)
    val files = fs.listStatus(p)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath)
    val valid = EdgeTextV2.committedUpTo(fs, p) match {
      case None => files.filter { f =>
        // no committed compaction: hide crashed compactions' uncommitted
        // data files (and there are no markers, by definition)
        EdgeTextV2.compactGenOf(f.getName).isEmpty
      }
      case Some(c) => files.filter { f =>
        val n = f.getName
        EdgeTextV2.compactGenOf(n) match {
          case Some(g) => g == c // only the live generation's data
          case None => EdgeTextV2.epochOf(n).exists(_ > c) // unexpired epochs
        }
      }
    }
    valid.map(_.toString).sorted
  }
}

/** Streaming form of the connector — the reference's file-replay input
  * (one shard file per trigger batch, `examples/motif.rs` reads its edge
  * file in timestamped chunks) as a real DSv2 MicroBatchStream. The
  * offset IS the count of (sorted) shard files already emitted, so the
  * checkpoint replays exactly: restarting from offset k re-plans files
  * [k, end) and never re-emits or skips a shard. Requires append-only
  * shard dirs with stable names (the contract of every file stream).
  * Filter pushdown and column pruning apply to each micro-batch exactly
  * as in the batch scan (same reader factory). */
private[v2] class EdgeMicroBatchStream(path: String, cols: Array[String],
                                       pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class FileCountOffset(n: Int) extends Offset {
    override def json(): String = n.toString
  }

  // AvailableNow: freeze the target file count at query start so the
  // trigger terminates even if files keep arriving
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(EdgeScan.listShards(path).length)

  override def initialOffset(): Offset = FileCountOffset(0)

  override def latestOffset(): Offset = {
    val current = EdgeScan.listShards(path).length
    FileCountOffset(availableNowTarget.fold(current)(math.min(current, _)))
  }

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no rate
  // limiting — each trigger takes everything up to the frozen target
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset =
    FileCountOffset(json.trim.toInt)

  /** The offset range indexes the sorted listing; stats skipping AFTER
    * the slice cannot shift offsets — a skipped shard is simply a file
    * the readers would have filtered to zero rows anyway. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    val needStats = EdgeTextV2.statsUsable(pushed)
    EdgeScan.listShards(path).slice(s, e)
      .filter(f => !needStats ||
        EdgeTextV2.readStats(f).forall(_.admits(pushed)))
      .map(f => EdgeFilePartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EdgeReaderFactory(cols, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[v2] case class EdgeFilePartition(file: String) extends InputPartition

/** One bucket of a bucketed table: every planned shard of bucket `b`,
  * read as a single key-grouped partition. `partitionKey` is the bucket
  * id — the value of the reported `bucket(N, col)` transform for every
  * row in the partition, which is what storage-partitioned joins align
  * on. */
private[v2] case class EdgeBucketPartition(files: Array[String], b: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](b))
}

/** Write path — the V2 batch commit protocol over the same text format.
  * Each task streams rows into a STAGED file (`_staging/…-<task>.txt`,
  * unique per task attempt); the driver's commit() renames only the
  * staged files named in the tasks' commit messages into the shard dir,
  * so a retried/zombie attempt's output is never visible (rename is the
  * atomic publish, the staging dir is cleaned either way) — the same
  * WAL-then-publish discipline as [[graft.fast.FastGraphState]]'s sink.
  * Truncate (SaveMode.Overwrite) deletes prior shards inside commit(),
  * after every new shard staged successfully — never before. */
private[v2] class EdgeWriteBuilder(path: String, schema: StructType,
                                   layout: Option[String],
                                   layoutPartitions: Int = 0,
                                   bucketsOpt: Option[String] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  require(schema.fieldNames.sameElements(Array("src", "dst", "w")),
    s"edge write schema must be (src, dst, w), got ${schema.fieldNames.mkString(",")}")
  layout.foreach(l => require(
    l.split(',').map(_.trim).forall(EdgeTextV2.statCol),
    s"layout columns must be among src,dst,w: got '$l'"))
  require(layout.isEmpty || bucketsOpt.isEmpty,
    "layout (range-sorted shards) and buckets (hash-partitioned shards) " +
      "are alternative physical layouts — pick one")
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }

  /** `.option("buckets", "16,src")` (or just "16" → src) — BUCKETED
    * LAYOUT-ON-WRITE: each task splits its rows by the floor-mod bucket
    * of the named column into per-bucket shard files
    * (`bucket-<col>-<b>of<N>-…`), with the usual stats trailers. A table
    * whose live shards all carry the same spec reports `bucket(N, col)`
    * partitioning and reads as ONE key-grouped partition per bucket —
    * two such tables JOIN WITHOUT AN EXCHANGE (storage-partitioned join,
    * `spark.sql.sources.v2.bucketing.enabled=true`). No write-side
    * shuffle is required: a bucket's rows may span many files; the scan
    * groups them. An APPEND to an already-bucketed table inherits the
    * table's spec automatically, so plain `INSERT INTO` cannot silently
    * break the layout; an overwrite replaces it. */
  private val buckets: Option[(String, Int)] = bucketsOpt.map { s =>
    val parts = s.split(',').map(_.trim)
    val (n, col) = parts match {
      case Array(n0) => (n0.toInt, "src")
      case Array(n0, c) => (n0.toInt, c)
      case _ => throw new IllegalArgumentException(
        s"buckets wants 'N' or 'N,col', got '$s'")
    }
    require(n > 0, s"bucket count must be positive, got $n")
    require(EdgeTextV2.statCol(col),
      s"bucket column must be among src,dst,w: got '$col'")
    (col, n)
  }
  private def effectiveBuckets: Option[(String, Int)] = {
    val declared = EdgeTextV2.declaredBuckets(path)
    for (b <- buckets; d <- declared) require(b == d,
      s"option buckets=$b conflicts with the table's declared spec $d " +
        "(PARTITIONED BY is a table property; drop the option or recreate)")
    buckets.orElse(declared)
      .orElse(if (doTruncate) None else EdgeTextV2.bucketLayoutOf(path))
  }
  /** `.option("layout", "src")` (or "src,dst") — LAYOUT-ON-WRITE, the
    * connector-side analog of Iceberg's write distribution/ordering
    * table property: the Write declares an ordered distribution on the
    * named columns and Spark plans the range exchange + sort itself, so
    * every shard lands with a TIGHT, pairwise-disjoint stats-trailer
    * interval and selective reads skip all but the matching shards. The
    * caller never hand-repartitions; without the option the write keeps
    * the upstream partitioning (no extra exchange). */
  override def build(): org.apache.spark.sql.connector.write.Write =
    layout match {
      case None =>
        val bk = effectiveBuckets
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new EdgeBatchWrite(path, doTruncate, bk)
          // streaming writes keep epoch-committed shard naming (the
          // exactly-once replay contract keys on it) — never bucketed
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new EdgeStreamingWrite(path)
        }
      case Some(l) =>
        import org.apache.spark.sql.connector.{distributions => dist}
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
        val orders: Array[SortOrder] = l.split(',').map(_.trim).map(c =>
          Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def requiredDistribution(): dist.Distribution =
            dist.Distributions.ordered(orders)
          // 0 = Spark/AQE sizes the exchange (production default);
          // `layoutPartitions` pins an exact shard count when the
          // caller needs a deterministic layout
          override def requiredNumPartitions(): Int = layoutPartitions
          override def requiredOrdering(): Array[SortOrder] = orders
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new EdgeBatchWrite(path, doTruncate)
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new EdgeStreamingWrite(path)
        }
    }
}

/** Streaming sink form: epoch-committed shards. Each epoch's tasks stage
  * `part-<epoch>-<partition>.txt` files; the driver commit renames them
  * into place. EXACTLY-ONCE at shard granularity under epoch replay: a
  * recovered query re-executes the last epoch, and commit() sees the
  * final shard already published and drops the replayed staging file
  * instead of renaming — the same replayed-id no-op rule as
  * [[graft.fast.FastGraphState.applyBatch]]. */
private[sources] class EdgeStreamingWrite(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory =
    new EdgeStreamingWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    fs.mkdirs(dir)
    messages.foreach { case EdgeCommitMessage(staged, finalName) =>
      val target = new Path(dir, finalName)
      if (fs.exists(target)) fs.delete(new Path(staged), false) // replayed epoch
      else fs.rename(new Path(staged), target)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case EdgeCommitMessage(staged, _) =>
      val fs = FileSystem.get(new Path(staged).toUri, new Configuration())
      fs.delete(new Path(staged), false)
    }
}

private[v2] class EdgeStreamingWriterFactory(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new EdgeDataWriter(path, partitionId, taskId,
      f"part-$epochId%05d-$partitionId%05d.txt")
}

private[sources] case class EdgeCommitMessage(staged: String, finalName: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** A bucketed task's commit: one staged file per non-empty bucket. */
private[sources] case class EdgeMultiCommitMessage(parts: Seq[EdgeCommitMessage])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] object EdgeCommitMessage {
  /** Flattens plain and bucketed task commits into the staged-file list
    * the driver-side publish renames. */
  def flatten(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[EdgeCommitMessage] =
    messages.toSeq.flatMap {
      case m: EdgeCommitMessage => Seq(m)
      case EdgeMultiCommitMessage(ms) => ms
    }
}

private[v2] class EdgeBatchWrite(path: String, truncate: Boolean,
                                 buckets: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  // Unique per-job token in batch shard names: two APPEND jobs writing
  // the same partition ids must both survive (Iceberg's append contract;
  // with a fixed `part-<pid>.txt` the second commit's rename silently
  // replaced the first's shard on local FS). The leading letter keeps the
  // name out of the streaming-epoch pattern, so batch shards still read
  // as the base snapshot.
  private val jobToken =
    "j" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new EdgeWriterFactory(path, jobToken, buckets = buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    fs.mkdirs(dir)
    if (truncate)
      fs.listStatus(dir).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => fs.delete(s.getPath, false))
    EdgeCommitMessage.flatten(messages).foreach {
      case EdgeCommitMessage(staged, finalName) =>
        fs.rename(new Path(staged), new Path(dir, finalName))
    }
    fs.delete(new Path(dir, "_staging"), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    fs.delete(new Path(dir, "_staging"), true)
  }
}

/** SQL UPDATE / MERGE INTO (and non-translatable DELETE) support —
  * `SupportsRowLevelOperations`, GROUP-BASED (copy-on-write): Spark
  * rewrites the command into a ReplaceData over this operation's scan,
  * and the write publishes the rewritten rows as a marker-committed
  * GENERATION — the same atomic swap DELETE FROM and compaction use, so
  * every crash window leaves the table fully old or fully new.
  *
  * The scan deliberately supports NO pushdown and NO runtime filtering:
  * the replacement must carry every unaffected row, so a pruned read
  * would silently drop data from the new generation. (Iceberg prunes to
  * affected FILES because its commit can replace a file subset; this
  * format's generation commit replaces the whole table, so the read is
  * whole-table too — correct first, with compaction-class cost.) */
private[v2] class EdgeRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft_edges COPY-ON-WRITE $cmd"
  /** Requesting a metadata attribute routes the write through Spark's
    * metadata-aware task, which applies the ROW PROJECTION before handing
    * rows to the writer (the plain task passes the rewrite plan's raw
    * output — `__row_operation` + columns — straight through, SPARK's
    * no-metadata group-based path as of 4.1). `_epoch` is otherwise
    * unused: the rewrite publishes a fresh generation, so per-row commit
    * history is re-stamped by the new shards regardless. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_epoch"))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new EdgeReplaceScan(path)
    }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
            // the rewritten plan's row layout is NOT the table schema
            // (Spark may carry operation columns); bind src/dst/w by NAME
            val sch = info.schema()
            def idx(c: String): Int = {
              val i = sch.fieldNames.indexOf(c)
              require(i >= 0, s"row-level write schema $sch lacks '$c'")
              i
            }
            new EdgeReplaceBatchWrite(path, idx("src"), idx("dst"), idx("w"),
              EdgeTextV2.bucketLayoutOf(path))
          }
        }
    }
}

/** Whole-table read backing a copy-on-write rewrite: every live shard,
  * table columns + the requested `_epoch` metadata attribute, no pruning
  * of any kind (see [[EdgeRowLevelOperation]]). */
private[v2] class EdgeReplaceScan(path: String) extends Scan with Batch {
  private val cols = EdgeTextV2.schema.fieldNames :+ "_epoch"
  override def readSchema(): StructType = StructType(
    EdgeTextV2.schema.fields :+ StructField("_epoch", LongType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_edges path=$path, FULL ROW-LEVEL READ (copy-on-write)"
  override def planInputPartitions(): Array[InputPartition] =
    EdgeScan.listShards(path).map(f => EdgeFilePartition(f): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new EdgeReaderFactory(cols, Array.empty)
}

/** Commit side of UPDATE/MERGE: tasks stage ordinary stats-trailed
  * shards; the driver publishes them as the next generation via the
  * single marker rename (old shards expire atomically with it). */
private[v2] class EdgeReplaceBatchWrite(path: String,
                                        si: Int, di: Int, wi: Int,
                                        buckets: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._
  private val jobToken =
    "j" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new EdgeWriterFactory(path, jobToken, si, di, wi, buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    fs.mkdirs(dir)
    val gen = EdgeTextV2.nextGeneration(path)
    EdgeTextV2.clearUncommittedGen(fs, dir, gen)
    val staged = EdgeCommitMessage.flatten(messages)
      .map(m => (new Path(m.staged), m.finalName))
    EdgeTextV2.adoptGeneration(fs, dir, gen, staged,
      tmpDir = new Path(dir, "_staging"))
    fs.delete(new Path(dir, "_staging"), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    fs.delete(new Path(dir, "_staging"), true)
  }
}

private[v2] class EdgeWriterFactory(path: String, jobToken: String,
                                    si: Int = 0, di: Int = 1, wi: Int = 2,
                                    buckets: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    buckets match {
      case Some((col, n)) =>
        new EdgeBucketedDataWriter(path, partitionId, taskId, jobToken,
          col, n, si, di, wi)
      case None =>
        new EdgeDataWriter(path, partitionId, taskId,
          f"part-$jobToken-$partitionId%05d.txt", si, di, wi)
    }
}

/** Bucketed task writer: splits this task's rows by the floor-mod bucket
  * of `col` into one staged shard per NON-EMPTY bucket
  * (`bucket-<col>-<b>of<n>-<job>-<pid>.txt`), each with its own stats
  * trailer. No write-side exchange is required — a bucket's rows may
  * span every task's files; the scan groups them back into one
  * key-grouped partition per bucket. */
private[v2] class EdgeBucketedDataWriter(path: String, partitionId: Int,
                                         taskId: Long, jobToken: String,
                                         col: String, n: Int,
                                         si: Int = 0, di: Int = 1, wi: Int = 2)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val colIdx =
    col match { case "src" => si; case "dst" => di; case _ => wi }
  private val children =
    new scala.collection.mutable.HashMap[Int, EdgeDataWriter]

  /** Metadata-carrying form (row-level rewrites) — metadata ignored. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val b = EdgeBucketFunction.bucketOf(n, row.getLong(colIdx))
    children.getOrElseUpdate(b, new EdgeDataWriter(path, partitionId, taskId,
      f"bucket-$col-${b}of$n-$jobToken-$partitionId%05d.txt",
      si, di, wi)).write(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    EdgeMultiCommitMessage(children.values.toSeq
      .map(_.commit().asInstanceOf[EdgeCommitMessage]))

  override def abort(): Unit = children.values.foreach(_.abort())
  override def close(): Unit = children.values.foreach(_.close())
}

private[v2] class EdgeDataWriter(path: String, partitionId: Int, taskId: Long,
                                 finalName: String,
                                 si: Int = 0, di: Int = 1, wi: Int = 2)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val stagedPath =
    new Path(new Path(path, "_staging"), f"$finalName-attempt-$taskId")
  private val fs = FileSystem.get(stagedPath.toUri, new Configuration())
  private val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
    fs.create(stagedPath, true), java.nio.charset.StandardCharsets.UTF_8))
  // per-file column stats, folded as rows stream through (Iceberg's
  // per-file bounds, computed by the only party that sees every row)
  private var n = 0L
  private var sLo, dLo, wLo = Long.MaxValue
  private var sHi, dHi, wHi = Long.MinValue

  /** Metadata-carrying form (row-level rewrites): the `_epoch` metadata
    * row is ignored — the publish re-stamps history as a new generation. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    // si/di/wi: ordinal of src/dst/w in the incoming row — (0,1,2) for
    // plain table-schema writes, bound by NAME for row-level rewrites
    val src = row.getLong(si); val dst = row.getLong(di); val w = row.getLong(wi)
    n += 1
    if (src < sLo) sLo = src; if (src > sHi) sHi = src
    if (dst < dLo) dLo = dst; if (dst > dHi) dHi = dst
    if (w < wLo) wLo = w; if (w > wHi) wHi = w
    out.println(s"$src $dst $w")
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    // the stats trailer rides in the shard itself: atomically consistent
    // with the rows through every downstream rename (readers skip it as a
    // comment). count=0 marks a provably empty shard — planners drop it.
    val stats =
      if (n == 0) EdgeTextV2.ShardStats(0, 0, 0, 0, 0, 0, 0)
      else EdgeTextV2.ShardStats(n, sLo, sHi, dLo, dHi, wLo, wHi)
    out.println(stats.line)
    out.close()
    EdgeCommitMessage(stagedPath.toString, finalName)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(stagedPath, false)
  }

  override def close(): Unit = out.close()
}

private[v2] class EdgeReaderFactory(cols: Array[String],
                                    pushed: Array[Filter],
                                    limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case EdgeFilePartition(f) => new EdgeFileReader(f, cols, pushed, limit)
      case EdgeBucketPartition(files, _) =>
        new EdgeMultiFileReader(files, cols, pushed, limit)
    }
}

/** Chains one bucket's shard files into a single partition read; the
  * pushed limit caps rows across the whole chain. */
private[v2] class EdgeMultiFileReader(files: Array[String], cols: Array[String],
                                      pushed: Array[Filter], limit: Int = -1)
    extends PartitionReader[InternalRow] {
  private var i = 0
  private var cur: EdgeFileReader = _
  private var emitted = 0

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (cur == null) {
        if (i >= files.length) return false
        cur = new EdgeFileReader(files(i), cols, pushed)
        i += 1
      }
      if (cur.next()) { emitted += 1; return true }
      cur.close(); cur = null
    }
    false // unreachable
  }

  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Streams one shard file line by line: skip blanks/comments/malformed
  * rows (the reference's parse contract), evaluate the pushed predicates
  * on the full (src, dst, w) record, then emit ONLY the pruned columns.
  * A pushed LIMIT stops the read after that many emitted rows — the
  * per-partition half of the limit; Spark's own (kept) Limit node is
  * the global cap. */
private[v2] class EdgeFileReader(file: String, cols: Array[String],
                                 pushed: Array[Filter], limit: Int = -1)
    extends PartitionReader[InternalRow] {
  private var emitted = 0

  private val p = new Path(file)
  private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
    FileSystem.get(p.toUri, new Configuration()).open(p),
    java.nio.charset.StandardCharsets.UTF_8))
  private var row: InternalRow = _
  // per-shard constant, parsed once — the `_epoch` metadata column
  private val epoch = EdgeTextV2.epochValue(file)

  private def field(name: String, src: Long, dst: Long, w: Long): Long =
    name match {
      case "src" => src; case "dst" => dst; case "_epoch" => epoch; case _ => w
    }

  private def accept(src: Long, dst: Long, w: Long): Boolean =
    pushed.forall(eval(_, src, dst, w))
  private def eval(f: Filter, src: Long, dst: Long, w: Long): Boolean =
    f match {
      case EqualTo(a, v: Number) => field(a, src, dst, w) == v.longValue()
      case GreaterThan(a, v: Number) => field(a, src, dst, w) > v.longValue()
      case GreaterThanOrEqual(a, v: Number) => field(a, src, dst, w) >= v.longValue()
      case LessThan(a, v: Number) => field(a, src, dst, w) < v.longValue()
      case LessThanOrEqual(a, v: Number) => field(a, src, dst, w) <= v.longValue()
      case IsNotNull(_) => true
      case And(l, r) => eval(l, src, dst, w) && eval(r, src, dst, w)
      case Or(l, r) => eval(l, src, dst, w) || eval(r, src, dst, w)
      case Not(c) => !eval(c, src, dst, w)
      case _ => true // pushable() never admits anything else
    }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    var line = in.readLine()
    while (line != null) {
      val t = line.trim
      if (t.nonEmpty && !t.startsWith("#")) {
        val parts = t.split("\\s+")
        if (parts.length >= 2) {
          try {
            val src = parts(0).toLong
            val dst = parts(1).toLong
            val w = if (parts.length >= 3) parts(2).toLong else 1L
            if (accept(src, dst, w)) {
              row = new GenericInternalRow(
                cols.map(field(_, src, dst, w).asInstanceOf[Any]))
              emitted += 1
              return true
            }
          } catch { case _: NumberFormatException => () }
        }
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
