package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.gen.TranscriptGen
import graft.transcripts.TranscriptEdges

/** Seeded workload inputs. Every generator is a pure function of its
  * parameters and the seed; results are cached under the work directory,
  * keyed by both, and are never part of a timed interval. */
object Fixtures {

  /** An edge list as three parallel primitive arrays. */
  final case class Edges(src: Array[Long], dst: Array[Long], w: Array[Long]) {
    def size: Int = src.length
    def slice(from: Int, until: Int): Edges =
      Edges(src.slice(from, until), dst.slice(from, until), w.slice(from, until))
    def tuples: Array[(Long, Long, Long)] = Array.tabulate(size)(i => (src(i), dst(i), w(i)))
    /** (src, dst, w) frame in `parts` partitions, read from one broadcast of
      * the arrays rather than shipped inside the tasks. */
    def toDF(spark: SparkSession, parts: Int): DataFrame = {
      val b = spark.sparkContext.broadcast((src, dst, w))
      val n = size
      val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
        val (s, d, x) = b.value
        (p.toLong * n / parts).toInt.until(((p + 1).toLong * n / parts).toInt).iterator.map(i => Row(s(i), d(i), x(i)))
      }
      spark.createDataFrame(rows, edgeSchema)
    }
  }

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType), StructField("w", LongType)))

  def splitmix64(x0: Long): Long = TranscriptGen.splitmix64(x0)

  /** Uniform long in [0, n) from (seed, stream, counter). */
  def uniform(seed: Long, stream: Long, ctr: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(
      splitmix64(splitmix64(seed * 0x9e3779b97f4a7c15L + stream) ^ ctr), n)

  private def cached(path: Path)(make: => Edges): Edges = {
    if (Files.exists(path)) read(path)
    else {
      val e = make
      Files.createDirectories(path.getParent)
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      write(tmp, e)
      Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      e
    }
  }

  private def write(path: Path, e: Edges): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(path), 1 << 20))
    try {
      out.writeInt(e.size)
      var i = 0
      while (i < e.size) { out.writeLong(e.src(i)); out.writeLong(e.dst(i)); out.writeLong(e.w(i)); i += 1 }
    } finally out.close()
  }

  private def read(path: Path): Edges = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path), 1 << 20))
    try {
      val n = in.readInt()
      val s = new Array[Long](n); val d = new Array[Long](n); val w = new Array[Long](n)
      var i = 0
      while (i < n) { s(i) = in.readLong(); d(i) = in.readLong(); w(i) = in.readLong(); i += 1 }
      Edges(s, d, w)
    } finally in.close()
  }

  /** The transcript tool→tool edge stream in event-time order: the rows of
    * `TranscriptEdges.toolToolEdges` over `TranscriptGen.generate`, ordered
    * by (ts, src, dst) as `graft.Bench.ensureFixture` orders them. */
  def transcriptStream(spark: SparkSession, work: Path, nConvs: Int, turns: Int, nTools: Int, seed: Long): Edges =
    cached(work.resolve(s"cache/transcript_${nConvs}_${turns}_${nTools}_$seed.bin")) {
      val ts = TranscriptGen.generate(spark, TranscriptGen.Config(nConvs, turns, nTools, seed = seed)).toDF()
      val rows = TranscriptEdges.toolToolEdges(ts).orderBy("ts", "src", "dst").select("src", "dst", "w").collect()
      Edges(rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)))
    }

  /** `e` with node ids in [base, base + n) renamed by a seeded permutation:
    * the same graph and edge order, so every motif count is unchanged, with
    * keys that land in other hash partitions. */
  def relabel(e: Edges, base: Long, n: Int, seed: Long): Edges = {
    val perm = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = uniform(seed, 4L, i.toLong, i + 1L).toInt
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    def f(x: Long): Long = base + perm((x - base).toInt)
    Edges(e.src.map(f), e.dst.map(f), e.w)
  }

  /** `lineitem`-shaped rows (l_orderkey, l_partkey) with the key distribution
    * of the TPC-H-like sf0.1 table the catalog's motif graph is derived from:
    * orders of 1..7 lines, part keys uniform over `rows/30` keys. */
  def lineitemRows(rows: Int, seed: Long): (Array[Long], Array[Long]) = {
    val ok = new Array[Long](rows); val pk = new Array[Long](rows)
    val parts = math.max(1L, rows / 30L)
    var order = 0L; var i = 0
    while (i < rows) {
      val lines = 1 + uniform(seed, 1L, order, 7L).toInt
      var l = 0
      while (l < lines && i < rows) {
        ok(i) = order; pk(i) = uniform(seed, 2L, i.toLong, parts); l += 1; i += 1
      }
      order += 1
    }
    (ok, pk)
  }

  /** [[lineitemRows]] as `<dir>/lineitem.parquet`; returns `<dir>`, the form
    * the catalog entries read (`SparkEntry.edges(spark, dir)`). */
  def lineitem(spark: SparkSession, work: Path, rows: Int, seed: Long): Path = {
    val dir = work.resolve(s"cache/lineitem_${rows}_$seed")
    val file = dir.resolve("lineitem.parquet")
    if (!Files.exists(file.resolve("_SUCCESS"))) {
      val (ok, pk) = lineitemRows(rows, seed)
      val data = ok.indices.map(j => Row(ok(j), pk(j)))
      val schema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
        .write.mode("overwrite").parquet(file.toString)
    }
    dir
  }

  /** An edge list as parquet (src, dst, w), written once per cache key. */
  def parquet(spark: SparkSession, path: Path, e: => Edges): Path = {
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      val x = e
      val data = x.src.indices.map(i => Row(x.src(i), x.dst(i), x.w(i)))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 4), edgeSchema)
        .write.mode("overwrite").parquet(path.toString)
    }
    path
  }

  /** Seeded R-MAT graph (a, b, c) = (0.57, 0.19, 0.19) over 2^scale nodes:
    * `draws` edges drawn, then self-loops and duplicates removed, so every
    * weight is 1 and the edge count is exact. */
  def rmat(work: Path, scale: Int, draws: Int, seed: Long): Edges =
    cached(work.resolve(s"cache/rmat_${scale}_${draws}_$seed.bin")) {
      val keys = new Array[Long](draws)
      var i = 0
      while (i < draws) {
        var s = 0L; var d = 0L; var bit = 0
        while (bit < scale) {
          val u = uniform(seed, 3L, i.toLong * 64 + bit, 1L << 20).toDouble / (1 << 20)
          val (sb, db) = if (u < 0.57) (0, 0) else if (u < 0.76) (0, 1) else if (u < 0.95) (1, 0) else (1, 1)
          s = (s << 1) | sb; d = (d << 1) | db; bit += 1
        }
        keys(i) = if (s == d) -1L else (s << 32) | d
        i += 1
      }
      val distinct = keys.filter(_ >= 0).distinct.sorted
      Edges(distinct.map(_ >>> 32), distinct.map(_ & 0xffffffffL), Array.fill(distinct.length)(1L))
    }
}
