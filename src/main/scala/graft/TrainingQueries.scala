package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.ops.{Cdc, ConnectedComponents, Sampling}
import graft.sim.Embeddings
import graft.text.TextOps

/** Training-data-pipeline query catalog (dedup, similarity, text analysis,
  * multimodal) with DuckDB oracles wherever expressible. Near-dup queries
  * run over an AUGMENTED corpus (each doc unioned with a one-token-appended
  * mutant at doc_id+100000) so the expected output provably contains the
  * planted near-duplicate pairs — both engines build the same corpus. */
object TrainingQueries {

  private val streamQueryCounter = new java.util.concurrent.atomic.AtomicInteger()

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** corpus ∪ planted near-duplicates (shared with Bench so every
    * consumer profiles the same augmented corpus). */
  private[graft] def docs2(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" xyzzy")).as("text")))
  }

  private val docs2Cte =
    "WITH docs2 AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 100000, text || ' xyzzy' FROM documents)"

  /** docs2 with a PLANTED corpus-wide hot phrase appended to every doc —
    * the adversarial input for the shingle-frequency cap (its shingles have
    * document frequency = |corpus| and would otherwise make the inverted-
    * index join quadratic). */
  private def docs3(s: SparkSession, dir: String): DataFrame =
    docs2(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" zq0 zq1 zq2 zq3")).as("text"))

  private val docs3Cte = docs2Cte +
    ", docs3 AS (SELECT doc_id, text || ' zq0 zq1 zq2 zq3' AS text FROM docs2)"

  /** Near-dup mutant line for the composed curation pipeline: must survive
    * the C4 line filter (≥5 words, terminal period) and must NOT contain
    * ' line ' (the clean stage's planted break token), so the mutant
    * differs from its base by exactly one KEPT line after cleaning —
    * unlike docs2's ' xyzzy' suffix, which the line filter would excise
    * (the raw tail line has no terminal period). */
  private val curateMutantLine =
    "xyzzy planted mutant sentence ends with a period too."

  /** The composed curation pipeline behind `pipeline_curate` /
    * `pipeline_curate_stats`: returns (corpus, curated, exactKept,
    * nearDupSurvivors, final) so the stats twin audits the same chain.
    *
    * Stage shapes at 100 TB: clean + quality filter are row-local
    * codegen'd expressions (map-only over the scan); exact dedup is one
    * hash-shuffle keyed on the cleaned text (Spark's hash aggregate —
    * grouping the full text is the exact-correct form; a 64-bit
    * fingerprint pre-key would risk collision merges); near-dup is
    * band-bucketed MinHash candidates + large-star/small-star components
    * (never all-pairs, never driver state); decontamination broadcasts
    * the eval-set shingles (benchmarks are small by construction). */
  private def curatePipeline(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    val base = d
      .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit("\n" + curateMutantLine)).as("text")))
      .unionByName(d.select((col("doc_id") + 200000L).as("doc_id"),
        col("text")))
    val bench = d.where(pmod(col("doc_id"), lit(23L)) === 0L)
    val corp = base.where(pmod(col("doc_id"), lit(23L)) =!= 0L)
    // stage 1: C4 line-level cleaning (same planted line structure as the
    // standalone c4_line_filter entry — the fixture docs are single-line)
    val plantedText = concat(
      replace(col("text"), lit(" line "), lit(".\n")),
      lit("\nshort one.\nthe quick planted line ends with a period here."))
    val (_, _, clean) = TextOps.lineFilter(plantedText, minWords = 5)
    val cleaned = corp.select(col("doc_id"), clean.as("text"))
    // stage 2: Gopher-rules composite quality filter on the CLEANED text
    val curated = cleaned.where(TextOps.curationFailMask(col("text")) === 0L)
    // stage 3: exact dedup — identical cleaned docs collapse to min id
    val exact = curated.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
    // stage 4: near-dup keep-one (MinHash-LSH candidates → components)
    val pairs = Dedup.minhashPairs(exact, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash)
    val surv = ConnectedComponents.run(pairs, "id_a", "id_b",
        vertices = Some(exact.select("doc_id")))
      .where(col("node") === col("component"))
      .select(col("node").as("doc_id"))
      .join(exact, "doc_id")
    // stage 5: benchmark decontamination (4-gram overlap with the held-out
    // eval split, broadcast semi-join) — flagged docs are excised
    val flagged = Dedup.decontaminate(surv, bench, "doc_id", "text", n = 4)
    val fin = surv.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        col("text"))
    (corp, curated, exact, surv, fin)
  }

  /** The TF-IDF pair corpus: the synthetic vocabulary is ~32 terms with
    * document frequency ~776/1000 — EVERY term is a stop word, so a df-cut
    * TF-IDF gate over the raw corpus would be vacuous (nothing survives the
    * cut). Append two deterministic RARE tokens per doc (residue classes of
    * doc_id — df ≈ 10–20, no two base docs share both) BEFORE the mutant
    * union, so each planted pair (d, d+100000) shares its rare tokens
    * exactly and the inverted index is genuinely selective. doc_id % 3 == 0
    * docs repeat their t-token so tf > 1 is exercised, not just presence. */
  private def tdocs(s: SparkSession, dir: String): DataFrame = {
    val a = pmod(col("doc_id"), lit(97L)).cast("string")
    val b = pmod(col("doc_id") * 31L, lit(89L)).cast("string")
    val base = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" t"), a, lit(" u"), b,
        when(pmod(col("doc_id"), lit(3L)) === 0, concat(lit(" t"), a))
          .otherwise(lit(""))).as("text"))
    base.unionByName(base.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" xyzzy")).as("text")))
  }

  private val tdocsCte =
    "WITH base AS (SELECT doc_id, text || ' t' || CAST(doc_id % 97 AS VARCHAR) " +
      "|| ' u' || CAST((doc_id * 31) % 89 AS VARCHAR) || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' t' || CAST(doc_id % 97 AS VARCHAR) ELSE '' END AS text " +
      "FROM documents), " +
      "tdocs AS (SELECT doc_id, text FROM base " +
      "UNION ALL SELECT doc_id + 100000, text || ' xyzzy' FROM base)"

  // shared DuckDB fragments mirroring TextOps/Dedup arithmetic exactly
  private val phLambda = // portable polynomial string hash as a DuckDB lambda body on `s`
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex(s, ''), " +
      "c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a * 131 + b % 1000003) % 1000003)"
  private def tokCte(src: String) =
    s"tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
      s"ELSE regexp_split_to_array(trim(text), '\\s+') END AS t FROM $src)"
  private val shCte =
    "sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_distinct(list_transform(generate_series(1, len(t) - 2), " +
      "i -> array_to_string(t[i:i+2], ' '))) END AS sh FROM tok)"
  private val hsCte =
    s"hs AS (SELECT doc_id, list_transform(sh, s -> $phLambda) AS hs FROM sh)"
  private val thCte =
    s"th AS (SELECT doc_id, list_transform(t, s -> $phLambda) AS th FROM tok)"
  /** Count-Min sketch shape shared by BOTH entries AND the oracle (one
    * constant, no way to drift): width 16 vs the corpus's ~31 distinct
    * tokens guarantees collisions, so the gate checks sketch behavior. */
  private val cmDepth = 4
  private val cmWidth = 16
  /** Count-Min replay: bucket counts per (row, bucket) from every token
    * occurrence, estimate = min over the key's d buckets — the identical
    * hash family and arithmetic as graft.sketch.CountMin. */
  private val countMinOracle: String =
    "WITH " + tokCte("documents") + ", " +
      "occ AS (SELECT unnest(t) AS s FROM tok), " +
      s"hh AS (SELECT s, $phLambda AS h FROM occ), " +
      s"bt AS (SELECT g.r, ((h * (2*g.r + 1) + (17*g.r + 3)) % 1000003) % $cmWidth AS b, " +
      s"count(*) AS cnt FROM hh, generate_series(0, ${cmDepth - 1}) g(r) GROUP BY 1, 2), " +
      "keys AS (SELECT DISTINCT s, h FROM hh), " +
      s"kb AS (SELECT s, g.r, ((h * (2*g.r + 1) + (17*g.r + 3)) % 1000003) % $cmWidth AS b " +
      s"FROM keys, generate_series(0, ${cmDepth - 1}) g(r)) " +
      "SELECT kb.s AS token, min(bt.cnt) AS est FROM kb " +
      "JOIN bt ON bt.r = kb.r AND bt.b = kb.b GROUP BY kb.s"

  /** docs2 → minhash signatures → LSH bands → shared-band pair candidates
    * with full-signature estimated jaccard (the CTE chain shared by the
    * pair query and the streaming-dedup keeper oracle). */
  /** sig → bands → candidate pairs (reads CTE `hs`); shared by the docs2
    * pair chain below and the composed curation pipeline's oracle. */
  private val sigBandsPairsCtes =
    "sig AS (SELECT doc_id, list_transform(generate_series(0, 15), i -> coalesce(" +
      "list_min(list_transform(hs, h -> (h * (2*i + 1) + (17*i + 3)) % 1000003)), 1000003)) AS sig FROM hs), " +
      "bands AS (SELECT doc_id, sig, j AS bidx, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "sig[j*4+1:j*4+4]), (a, b) -> (a * 131 + b) % 1000003) AS bkey FROM sig, generate_series(0, 3) g(j)), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "len(list_filter(generate_series(1, 16), i -> a.sig[i] = b.sig[i])) / 16.0 AS est_jaccard " +
      "FROM bands a JOIN bands b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"

  private val minhashPairsCtes =
    docs2Cte + ", " + tokCte("docs2") + ", " + shCte + ", " + hsCte + ", " +
      sigBandsPairsCtes
  // sequential-fold double dot product of embedding slices a/b (1-indexed)
  private def dotSql(a: String, b: String, dim: Int) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, $dim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
  private def cosSql(a: String, b: String, dim: Int) =
    s"${dotSql(a, b, dim)} / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)}))"

  /** Shared by decontaminate_semantic and its frozen row-local ingest
    * twin: every corpus vector's max cosine vs the planted bench slice,
    * argmax bench id with min-id ties, verdict at τ = 0.9. */
  private lazy val semDecontOracle =
    "WITH b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings " +
      "WHERE vec_id % 29 = 0), " +
      "p AS (SELECT vec_id, bench_id, round(" + cosSql("embedding", "bv", 64) +
      ", 9) AS cos FROM embeddings CROSS JOIN b), " +
      "m AS (SELECT vec_id, max(cos) AS max_cos FROM p GROUP BY vec_id) " +
      "SELECT p.vec_id, m.max_cos, min(p.bench_id) AS bench_id, " +
      "m.max_cos >= 0.9 AS contaminated " +
      "FROM p JOIN m ON p.vec_id = m.vec_id AND p.cos = m.max_cos " +
      "GROUP BY p.vec_id, m.max_cos"

  /** Shared by mix_temperature and its frozen-rates ingest twin: exact
    * isqrt (double sqrt, single ±1 correction) + HUGEINT thresholds
    * replaying Sampling.temperatureRates' BigInt math. */
  private val mixTemperatureOracle =
    "WITH " + tokCte("documents") +
      ", d AS (SELECT tok.doc_id, CASE WHEN documents.doc_id % 37 = 0 THEN 'rare' " +
      "ELSE documents.source END AS source, CAST(len(t) AS BIGINT) AS n_tokens " +
      "FROM tok JOIN documents USING (doc_id))" +
      ", g AS (SELECT source, sum(n_tokens) AS tt FROM d GROUP BY source)" +
      ", q AS (SELECT source, tt, CAST(floor(sqrt(CAST(tt AS DOUBLE))) AS BIGINT) AS s0 FROM g)" +
      ", w AS (SELECT source, tt, CASE WHEN s0*s0 > tt THEN s0-1 " +
      "WHEN (s0+1)*(s0+1) <= tt THEN s0+1 ELSE s0 END AS ws FROM q)" +
      ", tot AS (SELECT sum(ws) AS wsum FROM w)" +
      // '//' (integer floor division), NOT '/': HUGEINT '/' is FLOAT
      // division in DuckDB and CAST-to-BIGINT rounds to nearest, which
      // would sit one above the engine's BigInt floor whenever the exact
      // ratio's fractional part is >= 0.5
      ", r AS (SELECT w.source, CASE WHEN CAST(25000 AS HUGEINT)*ws >= CAST(wsum AS HUGEINT)*tt " +
      "THEN 1000003 ELSE CAST(CAST(1000003 AS HUGEINT)*25000*ws // (CAST(wsum AS HUGEINT)*tt) AS BIGINT) END AS thr " +
      "FROM w, tot) " +
      "SELECT d.doc_id, d.source, d.n_tokens FROM d JOIN r USING (source) " +
      "WHERE (d.doc_id % 1000003 * 48271 + 7) % 1000003 < r.thr"
  // 64-bit simhash as 4×16-bit bands, shared by the simhash and
  // simhash_pairs oracles (reads CTEs tok→th)
  private val s4Cte =
    "s4 AS (SELECT doc_id, list_transform(generate_series(0, 3), band -> " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 15), bit -> " +
      "CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(th, h -> " +
      "CASE WHEN (h * (2*(band*16 + bit) + 3) + (5*(band*16 + bit) + 1)) % 1000003 % 2 = 1 " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a, b) -> a + b) > 0 " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a * 2 + b)) AS sh FROM th)"

  /** DuckDB oracle for the hyperplane-LSH cosine pairs: the planes derive
    * from the same splitmix64 stream as [[Embeddings.hyperplanes]], emitted
    * as exact round-trip double literals (VALUES rows, string-cast to
    * DOUBLE[] so no element is mis-typed DECIMAL) — so DuckDB reproduces
    * bucket ids and cosines bit-for-bit. */
  private def lshPairCtes(nPlanes: Int, tables: Int,
                          seed: Long, dim: Int): String = {
    val rows = for (t <- 0 until tables; p <- 0 until nPlanes) yield {
      val plane = Embeddings.hyperplanes(nPlanes, dim, seed + t * 7919L)(p)
      val lst = plane.map(d => d.toString).mkString("['", "','", "']")
      s"($t, ${1L << (nPlanes - 1 - p)}, CAST($lst AS DOUBLE[]))"
    }
    s"WITH planes(tbl, pow2, w) AS (VALUES ${rows.mkString(", ")}), " +
      "b AS (SELECT e.vec_id AS id, pl.tbl, CAST(sum(CASE WHEN " +
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, $dim), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])), (x, y) -> x + y) >= 0 " +
      "THEN pl.pow2 ELSE 0 END) AS BIGINT) AS bucket FROM embeddings e CROSS JOIN planes pl " +
      "GROUP BY 1, 2), " +
      "cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b FROM b a " +
      "JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.id < b2.id), " +
      "scored AS (SELECT id_a, id_b, round(" + dotSql("va", "vb", dim) +
      " / (sqrt(" + dotSql("va", "va", dim) + ") * sqrt(" + dotSql("vb", "vb", dim) + ")), 9) AS cos " +
      "FROM (SELECT id_a, id_b, ea.embedding AS va, eb.embedding AS vb FROM cand " +
      "JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b))"
  }

  private def lshOracle(threshold: Double, nPlanes: Int, tables: Int,
                        seed: Long, dim: Int): String =
    lshPairCtes(nPlanes, tables, seed, dim) +
      s" SELECT id_a, id_b, cos FROM scored WHERE cos >= $threshold"

  /** DuckDB replay of [[Embeddings.ivfTopKKMeans]]: the same fixed-iteration
    * integer-arithmetic Lloyd's loop, unrolled — every value is a 64-bit
    * integer (scaled embeddings, exact squared-L2 sums) except the one
    * floor(sum/count) per mean coordinate, exact below 2^53 in both
    * engines, so the comparison is hash-exact. */
  private def kmeansIvfOracle(nCells: Int, nProbe: Int, k: Int, iters: Int,
                              dim: Int, nQueries: Int): String = {
    def d2(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1,$dim), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    val parts = scala.collection.mutable.ArrayBuffer(
      "ei AS (SELECT vec_id AS id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS v FROM embeddings)",
      s"c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cvec " +
        s"FROM (SELECT id, v FROM ei ORDER BY id LIMIT $nCells))")
    var prev = "c0"
    for (it <- 1 to iters) {
      parts += s"d$it AS (SELECT e.id, e.v, c.cell, ${d2("e.v", "c.cvec")} AS dist " +
        s"FROM ei e CROSS JOIN $prev c)"
      parts += s"a$it AS (SELECT id, v, cell FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY id ORDER BY dist, cell) AS rn FROM d$it) WHERE rn = 1)"
      parts += s"m$it AS (SELECT cell, list(m ORDER BY j) AS nvec FROM " +
        s"(SELECT cell, j, CAST(floor(CAST(sum(v[j]) AS DOUBLE) / count(*)) AS BIGINT) AS m " +
        s"FROM a$it, generate_series(1,$dim) g(j) GROUP BY cell, j) GROUP BY cell)"
      parts += s"c$it AS (SELECT p.cell, coalesce(m$it.nvec, p.cvec) AS cvec " +
        s"FROM $prev p LEFT JOIN m$it USING (cell))"
      prev = s"c$it"
    }
    parts += s"fa AS (SELECT id AS cand_id, v AS cv, cell FROM (SELECT e.id, e.v, c.cell, " +
      s"${d2("e.v", "c.cvec")} AS dist, row_number() OVER (PARTITION BY e.id " +
      s"ORDER BY ${d2("e.v", "c.cvec")}, c.cell) AS rn FROM ei e CROSS JOIN $prev c) WHERE rn = 1)"
    parts += s"prb AS (SELECT query_id, qv, cell FROM (SELECT e.id AS query_id, e.v AS qv, " +
      s"c.cell, row_number() OVER (PARTITION BY e.id ORDER BY ${d2("e.v", "c.cvec")}, c.cell) AS prn " +
      s"FROM ei e CROSS JOIN $prev c WHERE e.id < $nQueries) WHERE prn <= $nProbe)"
    parts += s"sc AS (SELECT p.query_id, a.cand_id, ${d2("p.qv", "a.cv")} AS dist " +
      s"FROM prb p JOIN fa a USING (cell) WHERE p.query_id <> a.cand_id)"
    parts += "r AS (SELECT query_id, cand_id, dist, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY dist, cand_id) AS rank FROM sc)"
    "WITH " + parts.mkString(", ") +
      s" SELECT query_id, cand_id, dist, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= $k"
  }

  /** DuckDB replay of [[Embeddings.pqTopK]]: the per-subspace integer
    * Lloyd's loops unrolled, PQ encoding as per-(id, subspace) argmin, the
    * ADC scan as a join of codes against the query distance tables, exact
    * integer rerank on the top `rerank·k` ADC pool. All-BIGINT except the
    * one floor(sum/count) per mean coordinate (exact below 2^53 in both
    * engines), so the comparison is hash-exact. */
  private def pqOracle(m: Int, ksub: Int, k: Int, iters: Int, rerank: Int,
                       dim: Int, nQueries: Int): String = {
    val dsub = dim / m
    def d2(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1,$dsub), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def d2full(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1,$dim), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    val parts = scala.collection.mutable.ArrayBuffer(
      "ei AS (SELECT vec_id AS id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS v FROM embeddings)",
      s"sv AS (SELECT id, s, v[(s*$dsub+1):(s*$dsub+$dsub)] AS sv " +
        s"FROM ei, generate_series(0,${m - 1}) g(s))",
      s"ini AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS code " +
        s"FROM (SELECT id FROM ei ORDER BY id LIMIT $ksub))",
      "c0 AS (SELECT v.s, CAST(i.code AS BIGINT) AS code, v.sv AS cvec " +
        "FROM sv v JOIN ini i USING (id))")
    var prev = "c0"
    for (it <- 1 to iters) {
      parts += s"d$it AS (SELECT v.id, v.s, v.sv, c.code, ${d2("v.sv", "c.cvec")} AS dist " +
        s"FROM sv v JOIN $prev c ON v.s = c.s)"
      parts += s"a$it AS (SELECT s, code, sv FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY id, s ORDER BY dist, code) AS rn FROM d$it) WHERE rn = 1)"
      parts += s"m$it AS (SELECT s, code, list(mm ORDER BY j) AS nvec FROM " +
        s"(SELECT s, code, j, CAST(floor(CAST(sum(sv[j]) AS DOUBLE) / count(*)) AS BIGINT) AS mm " +
        s"FROM a$it, generate_series(1,$dsub) g(j) GROUP BY s, code, j) GROUP BY s, code)"
      parts += s"c$it AS (SELECT p.s, p.code, coalesce(m$it.nvec, p.cvec) AS cvec " +
        s"FROM $prev p LEFT JOIN m$it USING (s, code))"
      prev = s"c$it"
    }
    parts += s"enc AS (SELECT id, s, code FROM (SELECT v.id, v.s, c.code, " +
      s"row_number() OVER (PARTITION BY v.id, v.s ORDER BY ${d2("v.sv", "c.cvec")}, c.code) AS rn " +
      s"FROM sv v JOIN $prev c ON v.s = c.s) WHERE rn = 1)"
    parts += s"dt AS (SELECT q.id AS query_id, c.s, c.code, ${d2("q.sv", "c.cvec")} AS pd " +
      s"FROM sv q JOIN $prev c ON q.s = c.s WHERE q.id < $nQueries)"
    parts += "adc AS (SELECT dt.query_id, e.id AS cand_id, CAST(sum(pd) AS BIGINT) AS adist " +
      "FROM enc e JOIN dt ON e.s = dt.s AND e.code = dt.code " +
      "WHERE dt.query_id <> e.id GROUP BY 1, 2)"
    parts += s"pool AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id, " +
      s"row_number() OVER (PARTITION BY query_id ORDER BY adist, cand_id) AS prn FROM adc) " +
      s"WHERE prn <= ${rerank * k})"
    parts += s"ex AS (SELECT p.query_id, p.cand_id, ${d2full("q.v", "c.v")} AS dist " +
      s"FROM pool p JOIN ei q ON q.id = p.query_id JOIN ei c ON c.id = p.cand_id)"
    parts += "r AS (SELECT query_id, cand_id, dist, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY dist, cand_id) AS rank FROM ex)"
    "WITH " + parts.mkString(", ") +
      s" SELECT query_id, cand_id, dist, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= $k"
  }

  /** Floor division of a (possibly negative) BIGINT expression by a
    * positive BIGINT expression, DuckDB-side: subtract the positive mod,
    * then the now-exact `//`. Mirrors the JVM's Math.floorDiv. */
  private def floorDivSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"

  /** DuckDB replay of [[Embeddings.pcaPowerTop]]: the same integer
    * covariance numerators, the same 2^28 downshift, and `iters` unrolled
    * matrix-vector + max-norm-renormalize steps in exact floor-division
    * arithmetic. */
  private def pcaPowerOracle(dim: Int, iters: Int): String =
    pcaPowerCtes(dim, iters) + s" SELECT j AS i, v FROM v$iters"

  /** [[pcaPowerOracle]]'s direction projected back onto every embedding:
    * proj = Σᵢ xᵢ·pcᵢ over the (vec_id, i, x) coordinate CTE. */
  private def pcaProjectOracle(dim: Int, iters: Int): String =
    pcaPowerCtes(dim, iters) +
      s" SELECT c.vec_id, CAST(sum(c.x * p.v) AS BIGINT) AS proj " +
      s"FROM c JOIN v$iters p ON p.j = c.i - 1 GROUP BY 1"

  private def pcaPowerCtes(dim: Int, iters: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      "ei AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS v FROM embeddings)",
      s"idx AS (SELECT unnest(range(1, ${dim + 1})) AS i)",
      "c AS (SELECT ei.vec_id, idx.i, ei.v[idx.i] AS x FROM ei CROSS JOIN idx)",
      // full (not triangular) matrix: the iteration multiplies both halves
      "g AS (SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(sum(a.x * b.x) AS BIGINT) AS s_ij " +
        "FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY 1, 2)",
      "s AS (SELECT i - 1 AS i, CAST(sum(x) AS BIGINT) AS sx, " +
        "CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1)",
      "m AS (SELECT g.i, g.j, " +
        floorDivSql("si.n * g.s_ij - si.sx * sj.sx", (1L << 28).toString) + " AS cc " +
        "FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j)",
      "v0 AS (SELECT i - 1 AS j, CAST(1048576 AS BIGINT) AS v FROM idx)")
    for (t <- 1 to iters) {
      parts += s"u$t AS (SELECT m.i, CAST(sum(m.cc * p.v) AS BIGINT) AS u " +
        s"FROM m JOIN v${t - 1} p ON p.j = m.j GROUP BY 1)"
      parts += s"q$t AS (SELECT greatest(CAST(1 AS BIGINT), " +
        s"CAST(max(abs(u)) AS BIGINT) // 1048576) AS q FROM u$t)"
      parts += s"v$t AS (SELECT i AS j, " + floorDivSql("u", "q") +
        s" AS v FROM u$t CROSS JOIN q$t)"
    }
    "WITH " + parts.mkString(", ")
  }

  /** Deterministic CDC changelog over documents, shared bit-for-bit with
    * the DuckDB oracle: insert everything (seq 1), update doc_id%3==0
    * (seq 2, text+" v2"), delete doc_id%7==0 (seq 3) — keys divisible by
    * 21 exercise the full insert→update→delete chain. */
  private def cdcLog(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.select(col("doc_id"), lit(1L).as("seq"), lit("I").as("op"), col("text"))
      .unionByName(d.where(pmod(col("doc_id"), lit(3L)) === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
          concat(col("text"), lit(" v2")).as("text")))
      .unionByName(d.where(pmod(col("doc_id"), lit(7L)) === 0)
        .select(col("doc_id"), lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("text")))
  }

  /** foreachBatch fold of [[cdcLog]] in a deliberately seq-oblivious order
    * (rows scrambled by a hash of (key, seq), ~5 micro-batches): a key's
    * delete can arrive batches before its insert, so convergence to the
    * batch-applied state proves the tombstoned fold is confluent. */
  private def cdcApplyStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = cdcLog(s, dir)
      .as[(Long, Long, String, Option[String])].collect()
      .sortBy { case (k, q, _, _) => ((k * 131 + q * 37) % 997, k, q) }
    if (rows.isEmpty)
      return s.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Option[String])]
    var state: DataFrame = null
    val q = src.toDF().toDF("doc_id", "seq", "op", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        state = Cdc.foldBatch(state, batch, "doc_id", "seq", "op", Seq("text"))
          .localCheckpoint()
        ()
      }
      .outputMode("update").start()
    try {
      for (chunk <- rows.grouped(math.max(1, rows.length / 5 + 1)))
        { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    Cdc.stateTable(state, "doc_id", "seq", "op", Seq("text"))
  }

  /** trajectory_dedup's planted corpus, shared with its streaming twin:
    * events as (conv, ts, event_id, event_type) ∪ exact clones of user%10
    * conversations (MUST merge) ∪ first-action-mutated clones of user%17
    * conversations (must NOT merge). */
  private def plantedTrajCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").as("conv"), col("ts"), col("event_id"),
        col("event_type"))
    val clone = base.where(pmod(col("conv"), lit(10L)) === 0)
      .withColumn("conv", col("conv") + 1000000L)
    val mw = Window.partitionBy("conv").orderBy("ts", "event_id")
    val mutant = base.where(pmod(col("conv"), lit(17L)) === 0)
      .withColumn("rn", row_number().over(mw))
      .withColumn("event_type",
        when(col("rn") === 1, lit("mutant")).otherwise(col("event_type")))
      .withColumn("conv", col("conv") + 2000000L).drop("rn")
    base.unionByName(clone).unionByName(mutant)
  }

  /** One oracle for both trajectory forms — the stream twin must converge
    * to the batch dedup exactly. */
  private val trajDedupOracle: String =
    "WITH base AS (SELECT user_id AS conv, ts, event_id, event_type FROM events), " +
      "clone AS (SELECT conv + 1000000 AS conv, ts, event_id, event_type " +
      "FROM base WHERE conv % 10 = 0), " +
      "mut0 AS (SELECT conv, ts, event_id, event_type, row_number() OVER " +
      "(PARTITION BY conv ORDER BY ts, event_id) AS rn FROM base WHERE conv % 17 = 0), " +
      "mut AS (SELECT conv + 2000000 AS conv, ts, event_id, " +
      "CASE WHEN rn = 1 THEN 'mutant' ELSE event_type END AS event_type FROM mut0), " +
      "allt AS (SELECT * FROM base UNION ALL SELECT * FROM clone UNION ALL SELECT * FROM mut), " +
      "tr AS (SELECT conv, array_to_string(list(event_type ORDER BY ts, event_id), '|') AS traj " +
      "FROM allt GROUP BY conv) " +
      "SELECT conv AS conv_id, min(conv) OVER (PARTITION BY traj) AS keep_conv, " +
      "count(*) OVER (PARTITION BY traj) AS n_dup FROM tr"

  /** Quantile-sketch shape, shared by the batch entry, the stream twin,
    * and the oracle so no constant can drift. */
  private val qsK = 5
  private val qsPermilles = Seq(500, 900, 990)
  private def qsVals(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      when(pmod(col("doc_id"), lit(20L)) === 0, pmod(col("doc_id"), lit(30L)))
        .otherwise(col("n_chars")).as("val"))
  private val qsW = 1L << qsK
  /** DuckDB replay of [[graft.sketch.QuantileSketch.bucketOf]] on `v`. */
  private def qsBucketSql(v: String): String =
    s"CASE WHEN $v <= 0 THEN CAST(0 AS BIGINT) " +
      s"WHEN length(bin(CAST($v AS BIGINT))) - 1 <= $qsK THEN CAST($v AS BIGINT) " +
      s"ELSE CAST(length(bin(CAST($v AS BIGINT))) - 1 - $qsK AS BIGINT) * $qsW + " +
      s"(CAST($v AS BIGINT) >> CAST(length(bin(CAST($v AS BIGINT))) - 1 - $qsK AS INT)) END"
  /** DuckDB replay of [[graft.sketch.QuantileSketch.lowerBound]] on `b`. */
  private def qsEstSql(b: String): String =
    s"CASE WHEN ($b >> $qsK) <= 0 THEN $b " +
      s"ELSE ($b - (($b >> $qsK) - 1) * $qsW) << CAST(($b >> $qsK) - 1 AS INT) END"
  private val qsValuesSql: String =
    qsPermilles.map(p => s"(CAST($p AS BIGINT))").mkString(", ")
  private val qsOracle: String =
    "WITH v AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id % 30 ELSE n_chars END AS val FROM documents), " +
      s"b AS (SELECT ${qsBucketSql("val")} AS bucket FROM v), " +
      "c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket), " +
      "cc AS (SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum, " +
      "CAST(sum(cnt) OVER () AS BIGINT) AS n FROM c), " +
      s"q(q_permille) AS (VALUES $qsValuesSql), " +
      "sel AS (SELECT q_permille, min(bucket) AS bucket FROM q JOIN cc " +
      "ON cum >= (q_permille * n + 999) // 1000 GROUP BY q_permille) " +
      s"SELECT q_permille, bucket, ${qsEstSql("bucket")} AS est FROM sel"
  /** Per-event-time-window quantiles: the keyed form, partitioned by the
    * hour bucket end to end. */
  private val windowQuantileOracle: String =
    "WITH v AS (SELECT date_trunc('hour', ts) AS win_start, " +
      "CAST(floor(value * 1024 + 0.5) AS BIGINT) AS val FROM events), " +
      s"b AS (SELECT win_start, ${qsBucketSql("val")} AS bucket FROM v), " +
      "c AS (SELECT win_start, bucket, count(*) AS cnt FROM b GROUP BY 1, 2), " +
      "cc AS (SELECT win_start, bucket, " +
      "CAST(sum(cnt) OVER (PARTITION BY win_start ORDER BY bucket) AS BIGINT) AS cum, " +
      "CAST(sum(cnt) OVER (PARTITION BY win_start) AS BIGINT) AS n FROM c), " +
      s"q(q_permille) AS (VALUES $qsValuesSql), " +
      "sel AS (SELECT win_start, q_permille, min(bucket) AS bucket FROM cc JOIN q " +
      "ON cum >= (q_permille * n + 999) // 1000 GROUP BY 1, 2) " +
      s"SELECT win_start, q_permille, bucket, ${qsEstSql("bucket")} AS est FROM sel"
  /** Exact order statistics the 2-pass kernel must reproduce: value at
    * rank ceil(q·n/1000) of the planted-mix distribution. */
  private val exactQuantileOracle: String =
    "WITH v AS (SELECT CASE WHEN doc_id % 20 = 0 THEN doc_id % 30 ELSE n_chars END AS val FROM documents), " +
      "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v), " +
      s"q(q_permille) AS (VALUES $qsValuesSql), " +
      "r AS (SELECT q_permille, (q_permille * n.n + 999) // 1000 AS rk FROM q, n), " +
      "s AS (SELECT CAST(val AS BIGINT) AS val, row_number() OVER (ORDER BY val) AS rn FROM v) " +
      "SELECT r.q_permille, s.val FROM r JOIN s ON s.rn = r.rk"
  /** Pane-composed sliding-window distinct users: per-15-min-pane HLL
    * registers max-merge into the 4 overlapping hour windows; same
    * estimate formula as sketch_hll_distinct, per window. */
  private lazy val slidingDistinctOracle: String =
    "WITH e AS (SELECT (epoch_us(ts) // 1000000) // 900 * 900 AS pane_s, " +
      "user_id % 1000003 AS h FROM events), " +
      "g AS (SELECT pane_s, (h * 48271 + 3) % 1000003 AS g0, " +
      "(h * 16807 + 17) % 1000003 AS g1 FROM e), " +
      "reg AS (SELECT pane_s, CAST((g0 * 32) // 1000003 AS BIGINT) AS bucket, " +
      "CAST(max(len(list_filter(generate_series(1, 20), k -> g1 % (1 << k) = 0)) + 1) AS BIGINT) AS rho " +
      "FROM g GROUP BY 1, 2), " +
      "wreg AS (SELECT pane_s - 900 * j AS win_start_s, bucket, max(rho) AS rho " +
      "FROM reg, generate_series(0, 3) t(j) GROUP BY 1, 2), " +
      "agg AS (SELECT win_start_s, sum((CAST(" + hllInvList + " AS DOUBLE[]))[rho]) AS s, " +
      "count(*) AS filled FROM wreg GROUP BY 1), " +
      "e0 AS (SELECT win_start_s, 0.697 * 32 * 32 / (s + (32 - filled)) AS raw, " +
      "CAST(32 - filled AS DOUBLE) AS zeros FROM agg) " +
      "SELECT CAST(win_start_s AS BIGINT) AS win_start_s, " +
      "round(CASE WHEN raw <= 80.0 AND zeros > 0 THEN 32.0 * ln(32.0 / zeros) ELSE raw END, 6) AS est FROM e0"

  /** Sketch-driven curation trim: docs whose length exceeds the sketch's
    * p990 estimate. The threshold sub-plan is sketch-sized; the corpus
    * pass is a broadcast-filtered scan. */
  private val qualityTrimOracle: String =
    "WITH v AS (SELECT CAST(n_chars AS BIGINT) AS val FROM documents), " +
      s"b AS (SELECT ${qsBucketSql("val")} AS bucket FROM v), " +
      "c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket), " +
      "cc AS (SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum, " +
      "CAST(sum(cnt) OVER () AS BIGINT) AS n FROM c), " +
      "sel AS (SELECT min(bucket) AS bucket FROM cc WHERE cum >= (990 * n + 999) // 1000), " +
      s"thr AS (SELECT ${qsEstSql("bucket")} AS threshold FROM sel) " +
      "SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars, thr.threshold " +
      "FROM documents d, thr WHERE CAST(d.n_chars AS BIGINT) > thr.threshold"

  /** split_leakage_safe's hash cut, shared between the Spark entry
    * (trainPermille = 800 → Splits recomputes the same value) and the
    * oracle SQL so the constant cannot drift. */
  private val splitCut: Long = graft.ops.Splits.P * 800 / 1000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis ----
    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),
    "lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))),
    "quality_score" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TextOps.qualityScore(col("text")), 6).as("score"))),

    // ---- dedup ----
    // portable (polyHash) mode so the DuckDB oracle reproduces signatures
    // bit-for-bit; the production default is xxhash64 (Dedup.FastHash),
    // benchmarked separately as minhash_lsh_pairs_fast in Bench
    "minhash_lsh_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs2(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash)),
    // STREAMING historical dedup [north: streaming × pipeline crossover]:
    // documents arrive as a stream (memory source, doc-id-ordered chunks →
    // multiple micro-batches) and dedup against ALL previously-ingested
    // docs via per-band bucket signatures in flatMapGroupsWithState; the
    // keeper is the stateless min over per-bucket candidates. Oracle = the
    // minhash pair set aggregated by min(id_a) per id_b.
    "dedup_stream_minhash" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs2(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val out = graft.streaming.DedupStream.dedupStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash)
      SparkEntry.streamReplay(s, src, out.toDF(), rows.toIndexedSeq, Nil,
          "append", "graft_dedup_stream")
        .groupBy("doc_id").agg(min("dup_of").as("dup_of"))
    }),
    "simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), Dedup.simhashBands(col("text")).as("sh"))
        .select(col("doc_id"), element_at(col("sh"), 1).as("b0"),
          element_at(col("sh"), 2).as("b1"), element_at(col("sh"), 3).as("b2"),
          element_at(col("sh"), 4).as("b3"))),
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs2(s, dir), "doc_id", "text", maxHamming = 6)),
    // AUTO strategy (round 5): one cheap shape measurement picks the naive
    // inverted-index form vs the AllPairs prefix-filtered form per corpus —
    // the regime map JaccardShape measured (near-unique → naive; heavy
    // sub-threshold boilerplate → prefix 3×; above-threshold dup → naive),
    // now a plan decision the engine makes itself. Both branches are exact
    // and identical-output (DedupSpec); this corpus is near-unique → naive.
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsAuto(docs2(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    // production-hash twin: xxhash64 index keys (8-byte shuffle keys
    // through the index, self-join, and df aggregation instead of ~20-byte
    // strings); SAME oracle as the string form — identical output or the
    // hash gate fails
    "ngram_jaccard_pairs_fast" -> ((s, dir) =>
      Dedup.jaccardPairsAuto(docs2(s, dir), "doc_id", "text", n = 3, threshold = 0.5,
          hashKeys = true)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    // document-frequency cut: the corpus-wide planted phrase is dropped
    // from the inverted index, so the hot shingle never joins (stats are
    // computed over the surviving shingles, so the cut bucket doesn't sway
    // the strategy pick either)
    "ngram_jaccard_pairs_capped" -> ((s, dir) =>
      Dedup.jaccardPairsAuto(docs3(s, dir), "doc_id", "text", n = 3, threshold = 0.5,
          maxShingleFreq = 100L)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    // ---- LSH self-audit: precision/recall of the MinHash-LSH pair set
    // against the exact n-gram-Jaccard ground truth at the same threshold
    // — the measurement a pipeline runs before trusting an approximate
    // dedup pass at 100 TB (where exact Jaccard runs on a sample, never
    // the corpus). tp/fp/fn are exact pair counts; 599/40/1 at sf0.01
    // (precision 937‰, recall 998‰) — all three cells non-vacuous.
    "dedup_eval_pr" -> ((s, dir) => {
      val lsh = Dedup.minhashPairs(docs2(s, dir), "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash)
        .select(col("id_a"), col("id_b"), lit(1L).as("l"))
      val exact = Dedup.jaccardPairsAuto(docs2(s, dir), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("e"))
      lsh.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("l").isNotNull && col("e").isNotNull, 1L).otherwise(0L)).as("tp"),
          sum(when(col("l").isNotNull && col("e").isNull, 1L).otherwise(0L)).as("fp"),
          sum(when(col("l").isNull && col("e").isNotNull, 1L).otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          floor(col("tp") * 1000 / greatest(col("tp") + col("fp"), lit(1L))).as("precision_milli"),
          floor(col("tp") * 1000 / greatest(col("tp") + col("fn"), lit(1L))).as("recall_milli"))
    }),

    // ---- benchmark decontamination: docs sharing any word 4-gram with
    // the held-out "benchmark" slice (doc_id % 23 == 0) are flagged with
    // their distinct-overlap count — the eval-leakage hygiene pass. The
    // benchmark shingle set is broadcast; the corpus side never shuffles
    // pre-join. Non-vacuous both ways at sf0.01: 31/478 docs flagged, one
    // a near-verbatim benchmark copy (n_hits = 22). ----
    "decontaminate_ngram" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.where(pmod(col("doc_id"), lit(23L)) =!= 0L),
        d.where(pmod(col("doc_id"), lit(23L)) === 0L),
        "doc_id", "text", n = 4)
    }),

    // streaming twin: corpus documents arrive as a stream and meet the
    // static benchmark shingle set in a stream-static broadcast join (the
    // ingest-time decontamination shape — no stream-side state beyond the
    // complete-mode per-doc hit counts); converged sink == batch oracle
    "decontaminate_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir)
      val benchSh = broadcast(d.where(pmod(col("doc_id"), lit(23L)) === 0L)
        .select(explode(Dedup.shingles(col("text"), 4)).as("s")).distinct())
      val rows = d.where(pmod(col("doc_id"), lit(23L)) =!= 0L)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val hits = src.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), 4)).as("s"))
        .join(benchSh, "s")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      SparkEntry.streamReplay(s, src, hits, rows.toIndexedSeq, Nil,
        "complete", "graft_decon_stream")
    }),

    // ---- similarity search ----
    "embedding_norms" -> ((s, dir) =>
      embs(s, dir).select(col("vec_id"),
        round(Embeddings.norm(col("embedding")), 9).as("nrm"))),
    "ann_cosine_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Embeddings.bruteForceTopK(e.where(col("vec_id") < 20), e, k = 5)
    }),
    "lsh_cosine_pairs" -> ((s, dir) => // rows-only check (hyperplanes not SQL-portable)
      Embeddings.lshCosinePairs(embs(s, dir), threshold = 0.3)),
    // ---- semantic benchmark decontamination (embedding-space complement
    // of decontaminate_ngram's lexical overlap): bench = the vec_id%29
    // slice of the corpus itself — planted "eval items leaked into the
    // training mix" that score cosine 1.0 against themselves — and the
    // entry emits EVERY corpus vector's (max_cos, argmax bench, verdict)
    // audit record, so the hash pins the broadcast scoring math on all
    // 500 rows, not just the 18-row contaminated verdict
    "decontaminate_semantic" -> ((s, dir) => {
      val e = embs(s, dir)
      Embeddings.semanticDecontaminate(
        e, e.where(col("vec_id") % 29 === 0), tau = 0.9)
    }),
    // streaming twin: score-at-ingest — the frozen benchmark set folded
    // into ONE codegen'd aggregate() lambda (literal arrays, linear
    // expression tree), so each arriving vector gets its (max_cos, argmax,
    // verdict) row-locally: append mode, zero joins, zero state stores;
    // same oracle as the batch form
    "decontaminate_semantic_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = embs(s, dir)
      val bench = e.where(col("vec_id") % 29 === 0)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
      val out = Embeddings.semanticDecontaminateFrozen(
        src.toDF().toDF("vec_id", "embedding"), bench, tau = 0.9)
      graft.SparkEntry.streamReplay(s, src, out, rows.toIndexedSeq, Nil,
        "append", "graft_semdec_stream")
    }),
    // IVF scale path: deterministic member-centroid coarse quantizer,
    // nProbe nearest cells per query, exact rerank on candidates only
    "ann_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Embeddings.ivfTopK(e.where(col("vec_id") < 20), e, k = 5,
        nCells = 16, nProbe = 4)
    }),
    // TRAINED coarse quantizer: fixed-iteration integer-arithmetic k-means
    // (deterministic, replayed bit-exactly by the DuckDB oracle); better
    // recall than member-centroids at the same nProbe on clustered corpora
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Embeddings.ivfTopKKMeans(e.where(col("vec_id") < 20), e, k = 5,
        nCells = 8, nProbe = 2, iters = 2)
    }),
    // product quantization: per-subspace trained codebooks, PQ codes (64
    // floats → 4 codes), ADC compressed-domain scan, exact rerank on the
    // top rerank·k pool — all integer-deterministic, DuckDB-replayed
    "ann_pq_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Embeddings.pqTopK(e.where(col("vec_id") < 20), e, k = 5,
        m = 4, ksub = 8, iters = 1, rerank = 4)
    }),
    // one-pass covariance sufficient statistics (PCA/whitening prep): per
    // upper-triangle pair (i≤j) the exact integer n, Σxi, Σxj, Σxixj in the
    // scaled-integer domain — map-side partial aggregation keeps the one
    // shuffle at O(d²·partitions) regardless of corpus size
    "embedding_covariance" -> ((s, dir) =>
      Embeddings.covarianceStats(embs(s, dir), dim = 64)),
    // top principal component: fixed-point power iteration over the
    // covariance numerators — distributed stats pass, then an O(d²) exact
    // integer iteration (corpus-size-independent), bit-replayed in DuckDB
    "embedding_pca_power" -> ((s, dir) =>
      Embeddings.pcaPowerTop(embs(s, dir), dim = 64, iters = 8)),
    // per-row projection onto that component (spectral outlier scores /
    // whitening step 1): the direction folds in as a broadcast literal,
    // one shuffle-free codegen'd scan
    "embedding_pca_project" -> ((s, dir) =>
      Embeddings.pcaProject(embs(s, dir), dim = 64, iters = 8)),

    // ---- multimodal plumbing (decode is stubbed; shape+metadata real) ----
    "multimodal_features" -> ((s, dir) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.assetsFromText(docs(s, dir), "doc_id", "text"), partitions = 8)
      feats.toDF().select(col("asset_id"), col("modality"), col("n_bytes"),
        size(col("features")).cast("long").as("n_features"))
    }),
    // frame sampling: one row per sampled video frame (fan-out shape,
    // per-frame timestamps, deterministic byte-range frames); integer
    // columns oracle-exact, per-frame features spec-mirrored
    "multimodal_frame_sample" -> ((s, dir) => {
      val frames = Multimodal.sampleFrames(
        Multimodal.assetsFromText(docs(s, dir), "doc_id", "text"))
      frames.toDF().select(col("asset_id"), col("frame_idx"), col("frame_ts_ms"),
        col("n_bytes"), size(col("features")).cast("long").as("n_features"))
    }),
    // REAL image decode (javax.imageio): deterministic grayscale PNGs
    // (pixel = (id·31+x·7+y·13) mod 256, size keyed off doc_id) are encoded
    // AND decoded by the actual JDK codec on executors; the decoded
    // width/height/pixel-checksum must equal DuckDB's closed-form replay —
    // pixel-exact round-trip through a real encoder/decoder, not shape-only
    "multimodal_image_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
      val assets = ids.map(id => Multimodal.ImageAsset(id,
        Multimodal.ImageCodec.syntheticPng(id, (8 + id % 9).toInt, (8 + id % 7).toInt)))
      Multimodal.decodeImages(assets, partitions = 8).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("n_pixels"), col("pix_sum"))
    }),
    // ---- sketches ----
    // Count-Min as a Spark aggregation: the d×w table is a groupBy over
    // (row, bucket) — partial aggregation builds per-partition sketches
    // and the shuffle merges them. Portable hash family → DuckDB replays
    // the sketch bit-exactly (estimate = min over the key's d buckets).
    // width 16 vs the corpus's ~31 distinct tokens: collisions are
    // GUARANTEED, so the gate verifies genuine sketch behavior
    // (overestimates included), not a collision-free identity
    "sketch_countmin_tokens" -> ((s, dir) =>
      graft.sketch.CountMin.tokenHeavyHitters(docs(s, dir), "text",
        cmDepth, cmWidth)),
    // the STREAMING sketch is the SAME aggregation under writeStream
    // (complete mode — the sink table IS the sketch); estimates computed
    // from the converged sink must equal the batch entry exactly
    "sketch_countmin_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val occ = src.toDF().toDF("doc_id", "text")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .withColumn("w", lit(1L))
      val table = graft.sketch.CountMin.sketchTable(occ, "tok", "w",
        cmDepth, cmWidth)
      val sink = SparkEntry.streamReplay(s, src, table, rows.toIndexedSeq, Nil,
        "complete", "graft_cm_stream")
      val keys = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
      graft.sketch.CountMin.estimates(sink, keys, "tok", cmDepth, cmWidth)
        .select(col("k").as("token"), col("est"))
    }),

    // Bloom-filter semi-join (the 100TB prune pattern): membership is a
    // codegen'd expression over an array<boolean> literal evaluated in the
    // fact scan. m scales with the DATA (Bloom.sizeFor = 8 bits/key →
    // ~3% FP at every SF; a fixed m saturated at sf0.1 and made the gate
    // vacuous), so bloom_membership pins REAL false positives (replayed
    // bit-exactly in DuckDB — the oracle computes the same m from the same
    // count) while bloom_semijoin proves prune+verify == plain semi-join.
    "bloom_membership" -> ((s, dir) => {
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_acctbal") > 5000).select("c_custkey")
      val m = graft.sketch.Bloom.sizeFor(dim.count())
      val bits = graft.sketch.Bloom.bitsLit(
        graft.sketch.Bloom.buildPositions(dim, "c_custkey", m, k = 3), m)
      s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey").as("key"))
        .select(col("key"),
          when(graft.sketch.Bloom.mightContain(bits, col("key"), m, 3), 1L)
            .otherwise(0L).as("might_contain"))
    }),
    "bloom_semijoin" -> ((s, dir) => {
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_acctbal") > 5000).select("c_custkey")
      graft.sketch.Bloom.semiJoin(
        s.read.parquet(s"$dir/orders.parquet").select("o_orderkey", "o_custkey"),
        "o_custkey", dim, "c_custkey",
        mBits = graft.sketch.Bloom.sizeFor(dim.count()), k = 3)
    }),

    // ---- near-dup CLUSTERING (the step after pair generation): MinHash
    // pairs → distributed connected components (alternating large-star /
    // small-star, O(log² n) keyed-shuffle rounds, no driver state) → every
    // doc labeled with its cluster keeper (= min doc id of its component;
    // singletons keep themselves). Oracle replays the label propagation
    // with a recursive CTE over the identical pair set.
    "dedup_cluster_keep" -> ((s, dir) => {
      val corpus = docs2(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash)
      ConnectedComponents.run(pairs, "id_a", "id_b",
          vertices = Some(corpus.select("doc_id")))
        .select(col("node").as("doc_id"), col("component").as("keep_id"))
    }),

    // ---- SEMANTIC near-dup clustering: the embedding-space twin of
    // dedup_cluster_keep — hyperplane-LSH cosine pairs (bucket equi-joins,
    // never all-pairs) → the same large-star/small-star components → every
    // vector labeled with its cluster keeper. The oracle replays the
    // bit-exact plane buckets, then the label propagation recursively.
    "semantic_dedup_keep" -> ((s, dir) => {
      val e = embs(s, dir)
      val pairs = Embeddings.lshCosinePairs(e, threshold = 0.3)
      ConnectedComponents.run(pairs, "id_a", "id_b",
          vertices = Some(e.select("vec_id")))
        .select(col("node").as("vec_id"), col("component").as("keep_id"))
    }),

    // ---- VERIFIED near-dup pairs: the stage AFTER candidate generation —
    // every MinHash candidate pair re-checked with a BOUNDED exact edit
    // distance (Spark's levenshtein(l, r, band): O(len·band) per pair,
    // -1 outside the band). Distance evaluates on candidates only, never
    // all-pairs; planted mutants verify at lev = 6 (' xyzzy'), LSH false
    // positives fail the band — the gate checks both directions.
    "near_dup_verify" -> ((s, dir) => {
      val corpus = docs2(s, dir)
      Dedup.verifyPairs(corpus,
        Dedup.minhashPairs(corpus, "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash),
        "doc_id", "text", maxDist = 20)
    }),

    // ---- LEAKAGE-SAFE train/val split: assignment by near-dup CLUSTER
    // representative (connected components over the candidate pairs) so
    // paraphrase pairs never straddle the eval boundary — the split that
    // keeps a deduplicated corpus's validation set honest
    "split_leakage_safe" -> ((s, dir) => {
      val corpus = docs2(s, dir)
      graft.ops.Splits.leakageSafeSplit(corpus, "doc_id",
        Dedup.minhashPairs(corpus, "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5, hash = Dedup.PortableHash),
        trainPermille = 800)
    }),

    // ---- kNN GRAPH over the hyperplane-LSH candidate set (the SemDeDup /
    // data-curation primitive): per-vector top-3 by exact cosine, ranked
    // inside a vec_id-partitioned window — no all-pairs, no global ordering
    "knn_graph" -> ((s, dir) => Embeddings.knnGraph(embs(s, dir), k = 3)),

    // ---- agent-TRAJECTORY dedup (transcript-native): conversations whose
    // ordered action sequences are identical collapse to one keeper —
    // sequence-level dedup for agent-trace corpora. Planted fixtures:
    // user%10 conversations get an exact clone (MUST merge), user%17 a
    // first-action-mutated clone (must NOT merge)
    "trajectory_dedup" -> ((s, dir) =>
      graft.transcripts.Trajectories.dedup(plantedTrajCorpus(s, dir),
        "conv", "event_type", col("ts"), col("event_id"))),

    // STREAMING twin of trajectory_dedup: per-conv action sequences
    // assembled in flatMapGroupsWithState (state O(turns/conv), removed at
    // emission), finalized by event-time timeout; the sink's (conv_id,
    // traj) table then gets the SAME traj-keyed group labeling as the
    // batch form — identical oracle. A held-back late cohort
    // (event_id % 5 == 2, delivered last) must still sort into place.
    "trajectory_dedup_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.TrajectoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = plantedTrajCorpus(s, dir)
        .select(col("conv"), col("event_id").as("tie"),
          col("event_type").as("action"), col("ts").cast("timestamp").as("ts"))
        .as[TrajectoryStream.TTurn].collect()
        .sortBy(t => (t.ts.getTime, t.conv, t.tie))
      if (rows.isEmpty)
        graft.transcripts.Trajectories.labelGroups(
          s.emptyDataset[TrajectoryStream.TTraj].toDF())
      else {
        val (late, onTime) = rows.partition(_.tie % 5 == 2)
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TrajectoryStream.TTurn]
        val out = TrajectoryStream.trajStream(
          src.toDS().withWatermark("ts", "90 days")).toDF()
        val farMs = rows.map(_.ts.getTime).max + 90L * 86400000L + 7200000L
        def sentinel(off: Long) = TrajectoryStream.TTurn(-1L, 0L, "",
          new java.sql.Timestamp(farMs + off))
        val sink = SparkEntry.streamReplay(s, src, out,
            (onTime ++ late).toIndexedSeq,
            Seq(sentinel(0L), sentinel(1000L)), "append", "graft_traj_stream")
          .where(col("conv_id") =!= -1L)
        graft.transcripts.Trajectories.labelGroups(sink)
      }
    }),

    // ---- TF-IDF document-pair cosine over an inverted index (integer
    // weights, df-cut hot-term defense — see text.TfIdf and the tdocs
    // corpus note above): the embedding-free boilerplate/mirror detector
    "tfidf_doc_pairs" -> ((s, dir) =>
      graft.text.TfIdf.cosinePairs(tdocs(s, dir), "doc_id", "text",
        maxDf = 100L, threshold = 0.8)),

    // ---- deterministic WEIGHTED sampling: inclusion probability
    // proportional to token count (capped at 1 — the cap binds for
    // n_tok ≥ 84, so both regimes are exercised); same hash-gate
    // invariances as sample_stratified
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedHashSample(
        docs(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", perUnit = 12000L)),

    // ---- PMI-style token association: within-doc co-occurrence counts
    // and the integer lift odds N·c(ab)/(c(a)·c(b)) — the exact rational
    // PMI takes ln() of (ln is monotone, so ranking is preserved; same
    // move as Bm25's idf odds). Candidates come from a doc_id-keyed
    // self-join of the per-doc DISTINCT token sets — quadratic only in
    // per-doc vocabulary, never in the corpus; at 100 TB the per-doc
    // vocab is bounded by a df-cut/top-T truncation, not corpus size.
    // Overflow envelope: SCALE·N·c_ab < 2^63 through N·c_ab ~ 10^12.
    "pmi_cooccur" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        array_distinct(TextOps.tokens(col("text"))).as("t"))
      val occ = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      val ca = occ.groupBy("tok").agg(count(lit(1)).as("c"))
      val stats = toks.agg(count(lit(1)).cast("long").as("n"))
      occ.select(col("doc_id"), col("tok").as("tok_a"))
        .join(occ.select(col("doc_id"), col("tok").as("tok_b")), "doc_id")
        .where(col("tok_a") < col("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 5)
        .join(broadcast(ca.select(col("tok").as("tok_a"), col("c").as("c_a"))), "tok_a")
        .join(broadcast(ca.select(col("tok").as("tok_b"), col("c").as("c_b"))), "tok_b")
        .crossJoin(broadcast(stats))
        .select(col("tok_a"), col("tok_b"), col("c_ab"),
          expr("(1000000 * n * c_ab) div (c_a * c_b)").as("lift_scaled"))
    }),

    // ---- time-decayed engagement counts: per-user click mass with an
    // exponential half-life of one day, entirely in integer arithmetic —
    // weight = 2^30 >> age_days (exact, order-independent), so the decayed
    // sum is a plain keyed aggregation both engines replay bit-for-bit.
    // The batch form of the decayed counters a streaming feature store
    // maintains incrementally.
    "decayed_counts" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type") === "click")
        .select(col("user_id"),
          expr("(unix_micros(TIMESTAMP'2024-02-01 00:00:00') - " +
            "unix_micros(CAST(ts AS TIMESTAMP))) div 86400000000").as("age"))
        // cap the shift at 63: a JVM long shift wraps mod 64, so an
        // unguarded 64-day age would silently decay to FULL weight
        .select(col("user_id"),
          expr("shiftright(1073741824L, CAST(least(age, 63L) AS INT))").as("w"))
        .groupBy("user_id").agg(sum("w").as("decayed"))),

    // ---- grouped DISCRETE quantiles (per-language p50/p90 of doc token
    // counts): rank selection at ceil(p·n) over a PARTITIONED window —
    // pure integer arithmetic end to end, where interpolated
    // percentile()/quantile_cont() would hinge on both engines computing
    // p·(n−1) to the same ulp. The corpus-profiling step before length
    // filtering; each language ranks inside its own task.
    "quantile_doc_len" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_tok").asc, col("doc_id").asc)
      val cw = Window.partitionBy("lang")
      docs(s, dir)
        .select(col("doc_id"), col("lang"), TextOps.tokenCount(col("text")).as("n_tok"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(cw))
        .groupBy("lang").agg(
          max(when(col("rk") === expr("(n + 1) div 2"), col("n_tok"))).as("p50"),
          max(when(col("rk") === expr("(n * 9 + 9) div 10"), col("n_tok"))).as("p90"),
          max("n_tok").as("p100"))
    }),

    // ---- multi-level ROLLUP aggregation (lang × doc_id%7 slice counts
    // with subtotals and a grand total): Spark's rollup == SQL GROUP BY
    // ROLLUP; rolled-up keys are coalesced to a sentinel on BOTH engines
    // so no null-ordering semantics leak into the comparison
    "rollup_agg" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"), pmod(col("doc_id"), lit(7L)).cast("string").as("slice"),
          TextOps.tokenCount(col("text")).as("n_tok"))
        .rollup("lang", "slice")
        .agg(count(lit(1)).as("n"), sum("n_tok").as("tok_sum"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("slice"), lit("(all)")).as("slice"),
          col("n"), col("tok_sum"))),

    // ---- EXACT-SIZE deterministic sample: bottom-25 by key hash
    // (TakeOrderedAndProject, never a global sort) — the fixed-size draw a
    // rate gate can't provide, same rerun/partition invariance
    "sample_bottomk" -> ((s, dir) =>
      Sampling.bottomK(docs(s, dir).select("doc_id", "lang"), "doc_id", k = 25)),

    // ---- per-group deterministic sample (3 docs per language by key
    // hash): a partitioned ranking window — each stratum draws inside its
    // own task, the group-wise form of bottom-k
    "sample_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(Sampling.keyHash(col("doc_id")).asc, col("doc_id").asc)
      docs(s, dir).select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("doc_id"))
    }),
    // STREAMING twin with O(k) per-group state (the k smallest (hash, key)
    // pairs — a running bottom-k is mergeable, so the draw is identical to
    // the batch ranking window under ANY arrival order); groups finalized
    // by event-time timeout, same oracle as the batch form. ts synthesized
    // from doc_id (documents carry no event time; the clock only drives
    // watermark mechanics, never membership)
    "sample_per_group_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.SamplerStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = 1767225600000L
      val rows = docs(s, dir).select(col("doc_id").cast("long"), col("lang"))
        .as[(Long, String)].collect().sortBy(_._1)
        .map { case (id, lang) =>
          SamplerStream.Doc(lang, id, new java.sql.Timestamp(base + id)) }
      if (rows.isEmpty) s.emptyDataset[SamplerStream.SampleRow].toDF()
      else {
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SamplerStream.Doc]
        val out = SamplerStream.samplePerGroupStream(
          src.toDS().withWatermark("ts", "90 days"), k = 3)
        val farMs = base + rows.map(_.docId).max + 90L * 86400000L + 7200000L
        def sentinel(off: Long) = SamplerStream.Doc("~s", 0L,
          new java.sql.Timestamp(farMs + off))
        SparkEntry.streamReplay(s, src, out.toDF(), rows.toIndexedSeq,
            Seq(sentinel(0L), sentinel(1000L)), "append", "graft_spg_stream")
          .where(col("lang") =!= "~s")
          .select(col("lang"), col("rk"), col("doc_id"))
      }
    }),

    // ---- CDC changelog application (MERGE INTO / upsert compaction):
    // every doc inserted, doc_id%3==0 updated, doc_id%7==0 deleted —
    // highest seq wins per key, a winning delete removes the key. One
    // keyed shuffle; max_by(struct, seq) partial-aggregates map-side so a
    // key churned 1000x in a batch ships once.
    "cdc_apply" -> ((s, dir) =>
      Cdc.applyLog(cdcLog(s, dir), "doc_id", "seq", "op", Seq("text"))),
    // streaming/incremental twin: the SAME changelog scrambled into a
    // seq-oblivious order (delete batches can precede their key's insert)
    // and folded micro-batch by micro-batch through foreachBatch — the
    // tombstoned fold must converge to the batch state however chunked
    "cdc_apply_stream" -> cdcApplyStream _,
    // inverse primitive: snapshot diff — the changelog that turns the raw
    // documents table into the CDC-applied state (D for deleted keys, U
    // for changed payloads, nothing for untouched keys); one full-outer
    // keyed join, round-trip law apply(before ∪ diff) == after spec-pinned
    "cdc_diff" -> ((s, dir) =>
      Cdc.diff(docs(s, dir).select("doc_id", "text"),
        Cdc.applyLog(cdcLog(s, dir), "doc_id", "seq", "op", Seq("text")),
        "doc_id", Seq("text"))),

    // ---- token-budget data mixing: per source, the hash-ordered document
    // prefix whose token count first reaches a 600-token budget (crossing
    // doc kept) — the "N billion tokens per domain" recipe primitive. Runs
    // the two-phase bucket-histogram form: only the budget-crossing bucket
    // (~1/1024 of each source) pays an ordered window; kept buckets are a
    // broadcast-joined codegen'd filter. Keeps 231/500 docs at sf0.01.
    "mix_token_budget" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.tokenBudgetMix(d, "doc_id", "source", "n_tokens", _ => 600L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // ---- temperature mixing (tokens^(1/2) source reweighting): the
    // planted doc_id%37 'rare' source is small enough that √-reweighting
    // CAPS its keep rate at 1 (kept whole) while every big source is
    // thinned — non-vacuous on both sides of the cap. Exact-integer
    // thresholds (BigInt / HUGEINT), hash-gate membership, broadcast rate
    // table: the corpus pays one map-only filter, never a shuffle.
    "mix_temperature" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 37 === 0, lit("rare"))
          .otherwise(col("source")).as("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.temperatureMix(d, "doc_id", "source", "n_tokens",
          targetTokens = 25000L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),
    // streaming twin: mix-at-ingest — the batch-trained FROZEN rate table
    // rides a stream-static broadcast join and the hash gate is a
    // row-local codegen'd filter (append mode, zero state stores), so an
    // arriving document is admitted or dropped the moment it lands; same
    // oracle as the batch form
    "mix_temperature_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir).select(col("doc_id").cast("long"),
        when(col("doc_id") % 37 === 0, lit("rare"))
          .otherwise(col("source")).as("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val rates = Sampling.temperatureRates(d, "source", "n_tokens",
        targetTokens = 25000L)
      val rows = d.as[(Long, String, Long)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
      val gated = src.toDF().toDF("doc_id", "source", "n_tokens")
        .join(broadcast(rates), Seq("source"))
        .where(Sampling.keyHash(col("doc_id")) < col("_thr"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
      graft.SparkEntry.streamReplay(s, src, gated, rows.toIndexedSeq, Nil,
        "append", "graft_mixt_stream")
    }),

    // ---- Gopher-style repetition metrics (token-level; the deterministic
    // ' r1 r2 r3 r1 r2 r3' tail plants a guaranteed duplicate 3-gram so the
    // n-gram column is provably non-vacuous on this synthetic corpus)
    "repetition_stats" -> ((s, dir) => {
      val t = concat(coalesce(col("text"), lit("")), lit(" r1 r2 r3 r1 r2 r3"))
      docs(s, dir).select(col("doc_id"),
        round(TextOps.dupTokenFrac(t), 6).as("dup_tok_frac"),
        round(TextOps.topTokenFrac(t), 6).as("top_tok_frac"),
        round(TextOps.dupNgramFrac(t, 3), 6).as("dup_3gram_frac"))
    }),

    // ---- Gopher-rules composite curation filter: four document-level
    // rules folded into one integer fail-mask + keep verdict (bit ⇔ rule,
    // TextOps.curationFailMask — per-rule attrition stays auditable, which
    // a bare boolean would lose). Keeps 150/500 at sf0.01; every rule
    // fails somewhere on the fixture (non-vacuous in both directions).
    "curation_rules" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.curationFailMask(col("text")).as("fail_mask"))
        .withColumn("keep", col("fail_mask") === 0L)),

    // ---- C4 line-level cleaning: the fixture docs are single-line, so
    // the entry PLANTS line structure deterministically (every ' line '
    // token becomes a '.\n' break; two appended lines — one too short to
    // keep, one qualifying) and then excises lines with <5 words or no
    // terminal period. Every doc drops ≥1 line at sf0.01; kept counts
    // span 1..7 of 3..10 lines.
    "c4_line_filter" -> ((s, dir) => {
      val planted = concat(
        replace(col("text"), lit(" line "), lit(".\n")),
        lit("\nshort one.\nthe quick planted line ends with a period here."))
      val (nLines, nKept, clean) = TextOps.lineFilter(planted, minWords = 5)
      docs(s, dir).select(col("doc_id"), nLines.as("n_lines"),
        nKept.as("n_kept"), clean.as("clean_text"))
    }),

    // ---- END-TO-END CURATION PIPELINE (capstone): the catalog's stages
    // composed in production order — C4 line cleaning → Gopher-rules
    // quality filter → exact dedup → MinHash-LSH near-dup keep-one →
    // benchmark decontamination — over a corpus with planted exact
    // duplicates (+200000, byte-identical), planted near-dup mutants
    // (+100000, one extra clean-surviving line), and a held-out benchmark
    // split (doc_id % 23 == 0). One DuckDB CTE chain replays every stage,
    // so the gate proves the stages COMPOSE, not just pass in isolation.
    // Each stage keeps its catalog entry's 100-TB shape: map-only scans
    // for clean/filter, one text-keyed shuffle for exact dedup, band-
    // bucketed candidates + O(log² n) keyed-shuffle components for
    // near-dup, and a broadcast semi-join for decontamination.
    "pipeline_curate" -> ((s, dir) => curatePipeline(s, dir)._5),

    // attrition-audit twin: per-stage surviving-doc counts (what a
    // production curation run actually reports) from the SAME composed
    // chain — one distributed union-of-aggregates job, no driver loop
    "pipeline_curate_stats" -> ((s, dir) => {
      val (corp, curated, exact, surv, fin) = curatePipeline(s, dir)
      Seq("1_corpus" -> corp, "2_curated" -> curated, "3_exact" -> exact,
          "4_near_dup" -> surv, "5_final" -> fin)
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(n).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _)
    }),

    // ingest-time streaming twin: the pipeline's ROW-LOCAL stages (C4
    // clean → Gopher-rules filter → benchmark decontamination) run on the
    // document stream itself — dedup stays a corpus-level batch pass, so
    // ingest needs NO stream state at all: cleaning and filtering are
    // codegen'd expressions, and the eval-set shingles ride a one-row
    // broadcast array met by a stream-static equi-join, with the overlap
    // count a row-local array_intersect. Append mode, zero watermarks,
    // zero state stores — the shape that keeps 100-TB/day ingest at scan
    // speed. Oracle = the same three stages replayed in batch.
    "pipeline_ingest_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir).select("doc_id", "text")
      val benchArr = d.where(pmod(col("doc_id"), lit(23L)) === 0L)
        .select(explode(Dedup.shingles(col("text"), 4)).as("sh4")).distinct()
        .agg(collect_list(col("sh4")).as("bench_sh"))
        .withColumn("k", lit(1))
      val rows = d.where(pmod(col("doc_id"), lit(23L)) =!= 0L)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val plantedText = concat(
        replace(col("text"), lit(" line "), lit(".\n")),
        lit("\nshort one.\nthe quick planted line ends with a period here."))
      val (_, _, clean) = TextOps.lineFilter(plantedText, minWords = 5)
      val out = src.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), clean.as("text"))
        .where(TextOps.curationFailMask(col("text")) === 0L)
        .withColumn("k", lit(1))
        .join(broadcast(benchArr), "k")
        .where(size(array_intersect(
          Dedup.shingles(col("text"), 4), col("bench_sh"))) === 0)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          col("text"))
      SparkEntry.streamReplay(s, src, out, rows.toIndexedSeq, Nil,
        "append", "graft_ingest_stream")
    }),

    // ---- frozen linear quality classifier (DCLM/fastText "classifier
    // filtering" — the learned-model stage next to curation_rules' hard
    // rules): integer logit over codegen'd row-local features, offline-
    // trained frozen weights, keep = logit > threshold. 292/500 kept at
    // sf0.01 — non-vacuous both directions. Map-only scan at 100 TB.
    "quality_classifier" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.qualityLogit(col("text")).as("logit"))
        .withColumn("keep", col("logit") > 40L)),

    // ---- frozen-BPE tokenizer APPLICATION (the encode side of
    // bpe_top_merges' trainer): every word → chars + EOW, then ONE
    // non-overlapping left-to-right replace per frozen merge rank
    // (Sennrich et al.'s reference regex-sub semantics; the 6 merges were
    // trained offline by iterating the topMerges job on this corpus's
    // word histogram — see Bpe.FrozenMerges). Pure row-local string ops,
    // whole-stage codegen'd: tokenizer application at 100 TB is a
    // map-only scan, and n_syms is the token count mixture budgeting
    // actually bills by. Oracle replays every replace bit-for-bit.
    "bpe_encode" -> ((s, dir) => {
      val enc = graft.text.Bpe.encodeDoc(col("text"))
      docs(s, dir)
        .select(col("doc_id"), enc.as("enc"),
          size(TextOps.tokens(col("text"))).cast("long").as("nw"))
        .select(col("doc_id"),
          ((length(col("enc")) -
            length(replace(col("enc"), lit(graft.text.Bpe.Sep), lit("")))).cast("long")
            - col("nw")).as("n_syms"),
          col("enc"))
    }),

    // streaming twin: tokenize-on-ingest — the frozen tokenizer applied
    // to arriving documents (row-local codegen'd string ops, append mode,
    // zero state) so token accounting exists the moment a doc lands;
    // same oracle as the batch form
    "bpe_encode_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val enc = graft.text.Bpe.encodeDoc(col("text"))
      val out = src.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), enc.as("enc"),
          size(TextOps.tokens(col("text"))).cast("long").as("nw"))
        .select(col("doc_id"),
          ((length(col("enc")) -
            length(replace(col("enc"), lit(graft.text.Bpe.Sep), lit("")))).cast("long")
            - col("nw")).as("n_syms"),
          col("enc"))
      SparkEntry.streamReplay(s, src, out, rows.toIndexedSeq, Nil,
        "append", "graft_bpe_stream")
    }),

    // ---- deterministic stratified sampling: hash-gate membership (pure
    // function of doc_id — rerun/partitioning/scale invariant, unlike
    // df.sample's per-partition RNG); per-language rates ride a broadcast
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHashSample(
        docs(s, dir).select("doc_id", "lang"), "doc_id", "lang",
        rates = Map("en" -> 0.25), defaultRate = 0.75)),

    // ---- global top-k tokens: high-cardinality aggregation + orderBy/limit
    // = TakeOrderedAndProject (parallel per-partition top-k, never a global
    // sort); the corpus-vocabulary probe a pipeline runs before tokenizer
    // work. Tie-break by token so the k boundary is deterministic.
    "token_topk" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(25)),

    // ---- STREAMING twin of token_topk: the same high-cardinality token
    // aggregation as a complete-mode streaming aggregation over a
    // memory-source document stream (state = the running vocabulary
    // counts), top-25 taken from the converged sink table; same oracle
    "token_topk_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val agg = src.toDF().toDF("doc_id", "text")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      graft.SparkEntry.streamReplay(s, src, agg, rows.toIndexedSeq, Nil,
          "complete", "graft_tk_stream")
        .orderBy(col("cnt").desc, col("token").asc).limit(25)
    }),

    // ---- per-group top-k (top-3 docs per language by token count): the
    // ranking window is PARTITIONED by lang — each group ranks inside its
    // own task, nothing funnels through one partition (contrast with the
    // round-4 IVF centroid-init bug this engine had to kill)
    "topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("n_tok").desc, col("doc_id").asc)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tok"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select("lang", "rk", "doc_id", "n_tok")
    }),

    // ---- BM25 lexical retrieval (integer-rational form — see text.Bm25):
    // the lexical-search companion to the ANN entries; top-20 with a
    // doc_id tie-break at the k boundary in both engines
    "bm25_topk" -> ((s, dir) =>
      graft.text.Bm25.topK(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("spark", "hash", "join"), k = 20)),

    // ---- HyperLogLog distinct-count sketch (cardinality companion to
    // Count-Min): registers ARE a groupBy(bucket).max(rho) — map-side
    // partials are per-partition sketches, the shuffle is the HLL merge.
    // m=32 vs 500 distinct texts → every register is contended, so the
    // gate exercises real max-merges, not a one-key-per-bucket identity
    "sketch_hll_registers" -> ((s, dir) =>
      graft.sketch.HyperLogLog.registers(docs(s, dir), "text", m = 32)),
    "sketch_hll_distinct" -> ((s, dir) =>
      graft.sketch.HyperLogLog.distinctEstimate(docs(s, dir), "text", m = 32)),
    // native Catalyst AGGREGATE twin: graft_hll_registers(h, m) is a
    // TypedImperativeAggregate (m-BYTE buffer per group, byte-wise-max
    // merge, ObjectHashAggregate partials — the shuffle carries one
    // sketch per (group, partition), never a row per input), registered
    // through SparkSessionExtensions and written as plain SQL GROUP BY.
    // Grouped by lang so per-GROUP buffers and partial merges are both
    // exercised; exploded registers gate against the same arithmetic.
    "sketch_hll_sql_agg" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("graft_hll_sql_docs")
      s.sql("SELECT lang, graft_hll_registers(graft_polyhash(text), 32) AS regs " +
          "FROM graft_hll_sql_docs GROUP BY lang")
        .select(col("lang"), posexplode(col("regs")).as(Seq("bucket", "rho")))
        .where(col("rho") > 0L)
        .select(col("lang"), col("bucket").cast("long"), col("rho"))
    }),
    // …and the scalar finalizer on top: per-group distinct counts as ONE
    // plain-SQL expression chain — aggregate to the m-byte sketch, then
    // graft_hll_estimate finalizes per group (once per GROUP, not per row)
    "sketch_hll_sql_estimate" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("graft_hll_est_docs")
      s.sql("SELECT lang, round(graft_hll_estimate(" +
        "graft_hll_registers(graft_polyhash(text), 32), 32), 6) AS est " +
        "FROM graft_hll_est_docs GROUP BY lang")
    }),
    // streaming twin: the register table as a COMPLETE-mode streaming
    // aggregation (register = running max(rho) per bucket — max is the
    // mergeable HLL combine, so the converged sink must equal the batch
    // registers bit-for-bit against the same oracle)
    "sketch_hll_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val reg = graft.sketch.HyperLogLog.registers(
        src.toDF().toDF("doc_id", "text"), "text", m = 32)
      SparkEntry.streamReplay(s, src, reg, rows.toIndexedSeq, Nil,
        "complete", "graft_hll_stream")
    }),

    // ---- QUANTILE sketch (HDR-style integer histogram — the rank
    // companion of the CountMin/HLL/Bloom family): p50/p90/p99 doc length
    // from an O(64·2^k)-row mergeable bucket table. One shuffle to bucket
    // counts; every later pass (cumulative window, permille join) runs on
    // SKETCH-sized data — the same bounded-finalizer triage class as the
    // other sketches. doc_id%20 rows swap in a tiny planted value so the
    // exact linear region (v < 2^k) is exercised next to the log region.
    "sketch_quantile_doclen" -> ((s, dir) =>
      graft.sketch.QuantileSketch.quantiles(
        graft.sketch.QuantileSketch.sketch(qsVals(s, dir), "val", qsK),
        qsK, qsPermilles)),
    // streaming twin: the bucket aggregation runs as a complete-mode
    // streaming aggregate (the count-sum monoid IS the update rule) and
    // the finalizer reads the last snapshot — same oracle as batch
    "sketch_quantile_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = qsVals(s, dir).as[Long].collect().sorted
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val sk = graft.sketch.QuantileSketch.sketch(
        src.toDF().toDF("val"), "val", qsK)
      val sink = SparkEntry.streamReplay(s, src, sk, rows.toIndexedSeq, Nil,
        "complete", "graft_qsk_stream")
      graft.sketch.QuantileSketch.quantiles(sink, qsK, qsPermilles)
    }),
    // per-event-time-window quantiles: the KEYED sketch form. One shuffle
    // to (window, bucket) counts; the finalizer's cumulative window is
    // PARTITIONED by the window start, so — unlike the global finalizers
    // above — no single-partition exchange exists anywhere in this plan
    // (pinned in QuantileSketchSpec). value is fixed-point scaled (x1024,
    // round half up) into the integer domain the sketch indexes.
    "window_quantile" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(date_trunc("hour", col("ts")).as("win_start"),
          floor(col("value") * 1024 + 0.5).cast("long").as("val"))
      graft.sketch.QuantileSketch.quantilesPerKey(
        graft.sketch.QuantileSketch.sketchKeyed(
          e, Seq("win_start"), "val", qsK),
        Seq("win_start"), qsK, qsPermilles)
    }),
    // streaming twin: the keyed bucket aggregation runs as a complete-mode
    // streaming aggregate over the replayed event stream (the per-window
    // count-sum monoid IS the update rule); the parallel finalizer reads
    // the last snapshot — same oracle as the batch form
    "window_quantile_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp").as("ts"),
          floor(col("value") * 1024 + 0.5).cast("long").as("val"))
        .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val sk = graft.sketch.QuantileSketch.sketchKeyed(
        src.toDF().toDF("ts", "val")
          .select(date_trunc("hour", col("ts")).as("win_start"), col("val")),
        Seq("win_start"), "val", qsK)
      val sink = SparkEntry.streamReplay(s, src, sk, rows.toIndexedSeq, Nil,
        "complete", "graft_wq_stream")
      graft.sketch.QuantileSketch.quantilesPerKey(
        sink, Seq("win_start"), qsK, qsPermilles)
        .select(col("win_start").cast("timestamp_ntz").as("win_start"),
          col("q_permille"), col("bucket"), col("est"))
    }),

    // ---- DataSource V2 edge connector end to end: write the edge table
    // as text shards once, read it back through the custom TableProvider
    // with a pushed src-range filter and a pruned (src, dst) projection —
    // the predicates evaluate inside the partition readers (PushedFilters
    // in the scan, spec-pinned) and parallelism is one task per shard.
    "edge_source_v2" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2"
      SparkEntry.edges(s, dir)
        .select(concat_ws(" ", col("src"), col("dst")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(base)
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .where(col("src") >= 100L && col("src") < 1500L)
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
    }),

    // DATA SKIPPING over the connector's per-shard stats trailers
    // (Iceberg's per-file column bounds): the WRITE declares
    // `layout=src` so the connector itself plans the range exchange +
    // sort (RequiresDistributionAndOrdering — Iceberg's write
    // distribution property), every shard's trailer carries a tight src
    // interval, and the pushed range predicate DROPS all non-overlapping
    // shards at planning (spec-pinned partition counts). The read back
    // aggregates against the same recomputed oracle — a shard wrongly
    // skipped (rows lost) or a bound wrongly widened (dup rows survive
    // elsewhere) breaks the hash. The 100-TB shape: layout-clustered
    // columns turn a selective scan into an O(matching shards) read, no
    // row-level work for the rest — parquet min/max skipping, connector-side.
    "edge_v2_stats_prune" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2sp"
      SparkEntry.edges(s, dir)
        .withColumn("w", lit(1L))
        .write.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("layout", "src").mode("overwrite").save()
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .where(col("src") >= 100L && col("src") < 1500L)
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
    }),

    // METADATA-ONLY AGGREGATE through the V2 connector
    // (SupportsPushDownAggregates — Iceberg's answer-from-manifest):
    // COUNT/MIN/MAX are computed from the per-shard stats trailers at
    // planning time; no data byte is read, no row task runs
    // (EdgeV2PushdownSpec pins the plan shape and the decline paths:
    // any row-level predicate or trailer-less shard falls back to the
    // exact row scan). The oracle recomputes the same aggregates from
    // lineitem, so a stale, wrong, or missing trailer breaks the hash —
    // the stats surface itself is what's gated here.
    "edge_v2_agg_pushdown" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2agg"
      SparkEntry.edges(s, dir).withColumn("w", lit(1L))
        .write.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("layout", "src").mode("overwrite").save()
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .agg(count(lit(1)).as("n_edges"),
          min("src").as("min_src"), max("src").as("max_src"),
          min("dst").as("min_dst"), max("dst").as("max_dst"))
    }),

    // RUNTIME (DPP) shard pruning end to end (SupportsRuntimeFiltering —
    // Iceberg's dynamic file pruning): the broadcast join on src hands
    // the scan the dim side's key set at EXECUTION time, and shards
    // whose stats bounds exclude every key are dropped before a byte is
    // read (EdgeV2PushdownSpec counts the planned partitions; pruning
    // stays a pure optimization — admitted rows are still joined). The
    // oracle replays the same dim join in SQL.
    "edge_v2_runtime_prune" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2rt"
      SparkEntry.edges(s, dir).withColumn("w", lit(1L))
        .write.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("layout", "src")
        .option("layoutPartitions", "8").mode("overwrite").save()
      val dimDir = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2rt_dim"
      SparkEntry.edges(s, dir).select("src").distinct()
        .write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir)
        .where(col("src") >= 100L && col("src") < 300L)
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .join(broadcast(dim), "src")
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
    }),

    // the TABLE CATALOG (DSv2 TableCatalog over the edge format): pure
    // SQL end to end — CREATE NAMESPACE/TABLE against the catalog,
    // INSERT INTO ... SELECT through the connector's staged-rename
    // commit, SELECT with the range predicate pushed into the shard
    // readers — against the same recomputed oracle. At 100 TB this is
    // the multi-team surface: tables addressed by name, not by path,
    // with the catalog holding zero driver state (O(1) directory
    // metadata per op).
    "edge_v2_sql_catalog" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_edges_cat_wh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.v2.EdgeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
      try {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
        s.sql("CREATE TABLE graft_cat.db.edges (src BIGINT, dst BIGINT, w BIGINT)")
        SparkEntry.edges(s, dir).withColumn("w", lit(1L))
          .createOrReplaceTempView("graft_cat_src")
        s.sql("INSERT INTO graft_cat.db.edges SELECT src, dst, w FROM graft_cat_src")
        s.sql("""SELECT src, count(*) AS deg, sum(dst) AS sum_dst
                 FROM graft_cat.db.edges
                 WHERE src >= 100 AND src < 1500 GROUP BY src""")
          .localCheckpoint(true) // materialize before the catalog conf is unset
      } finally {
        s.conf.unset("spark.sql.catalog.graft_cat")
        s.conf.unset("spark.sql.catalog.graft_cat.warehouse")
      }
    }),

    // SQL DELETE on the catalog table (copy-on-write rewrite published as
    // a marker-committed generation): the entry deletes the COMPLEMENT of
    // the oracle's range and then aggregates with NO filter — so the hash
    // equals the oracle iff the delete dropped exactly the complement
    // rows and kept exactly the range: an under-delete leaks extra
    // groups, an over-delete loses rows inside the range.
    "edge_v2_sql_delete" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_edges_del_wh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      s.conf.set("spark.sql.catalog.graft_catd",
        classOf[graft.sources.v2.EdgeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_catd.warehouse", wh)
      try {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_catd.db")
        s.sql("CREATE TABLE graft_catd.db.edges (src BIGINT, dst BIGINT, w BIGINT)")
        SparkEntry.edges(s, dir).withColumn("w", lit(1L))
          .createOrReplaceTempView("graft_catd_src")
        s.sql("INSERT INTO graft_catd.db.edges SELECT src, dst, w FROM graft_catd_src")
        s.sql("DELETE FROM graft_catd.db.edges WHERE src < 100 OR src >= 1500")
        s.sql("""SELECT src, count(*) AS deg, sum(dst) AS sum_dst
                 FROM graft_catd.db.edges GROUP BY src""")
          .localCheckpoint(true)
      } finally {
        s.conf.unset("spark.sql.catalog.graft_catd")
        s.conf.unset("spark.sql.catalog.graft_catd.warehouse")
      }
    }),

    // SQL UPDATE on the catalog table (SupportsRowLevelOperations,
    // group-based copy-on-write): Spark rewrites the command into a
    // whole-table read + replacement write, and the connector publishes
    // the rewritten rows as ONE marker-committed generation — the same
    // atomic swap as DELETE FROM and compaction, so no reader ever sees
    // a half-applied UPDATE. The entry updates w on a src range and then
    // aggregates with NO filter: the hash matches the oracle iff exactly
    // the range rows changed (an under-update keeps stale w, an
    // over-update corrupts rows outside the range).
    "edge_v2_sql_update" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_edges_upd_wh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      s.conf.set("spark.sql.catalog.graft_catu",
        classOf[graft.sources.v2.EdgeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_catu.warehouse", wh)
      try {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_catu.db")
        s.sql("CREATE TABLE graft_catu.db.edges (src BIGINT, dst BIGINT, w BIGINT)")
        SparkEntry.edges(s, dir).withColumn("w", lit(1L))
          .createOrReplaceTempView("graft_catu_src")
        s.sql("INSERT INTO graft_catu.db.edges SELECT src, dst, w FROM graft_catu_src")
        s.sql("UPDATE graft_catu.db.edges SET w = w + dst WHERE src < 800")
        s.sql("""SELECT src, count(*) AS deg, sum(w) AS sum_w
                 FROM graft_catu.db.edges GROUP BY src""")
          .localCheckpoint(true)
      } finally {
        s.conf.unset("spark.sql.catalog.graft_catu")
        s.conf.unset("spark.sql.catalog.graft_catu.warehouse")
      }
    }),

    // SQL MERGE INTO on the catalog table — all three branches in one
    // statement (matched-delete on even dst, matched-update, not-matched
    // insert), rewritten by Spark into the same group-based copy-on-write
    // generation publish. Target = edges with src >= 500, source = edges
    // with src < 1000, so the oracle can reconstruct every branch from
    // the src range alone: src < 500 inserted (w=100), 500 <= src < 1000
    // matched (deleted when dst is even, else w = 1+10), src >= 1000
    // untouched (w=1). The unfiltered aggregate hashes every branch.
    "edge_v2_sql_merge" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_edges_mrg_wh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      s.conf.set("spark.sql.catalog.graft_catm",
        classOf[graft.sources.v2.EdgeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_catm.warehouse", wh)
      try {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_catm.db")
        s.sql("CREATE TABLE graft_catm.db.edges (src BIGINT, dst BIGINT, w BIGINT)")
        SparkEntry.edges(s, dir).createOrReplaceTempView("graft_catm_src")
        s.sql("""INSERT INTO graft_catm.db.edges
                 SELECT src, dst, 1 FROM graft_catm_src WHERE src >= 500""")
        s.sql("""MERGE INTO graft_catm.db.edges t
                 USING (SELECT src, dst FROM graft_catm_src WHERE src < 1000) s
                 ON t.src = s.src AND t.dst = s.dst
                 WHEN MATCHED AND t.dst % 2 = 0 THEN DELETE
                 WHEN MATCHED THEN UPDATE SET w = t.w + 10
                 WHEN NOT MATCHED THEN INSERT (src, dst, w)
                   VALUES (s.src, s.dst, 100)""")
        s.sql("""SELECT src, count(*) AS deg, sum(w) AS sum_w
                 FROM graft_catm.db.edges GROUP BY src""")
          .localCheckpoint(true)
      } finally {
        s.conf.unset("spark.sql.catalog.graft_catm")
        s.conf.unset("spark.sql.catalog.graft_catm.warehouse")
      }
    }),

    // STORAGE-PARTITIONED JOIN (Iceberg's SPJ, re-expressed on the
    // shard-name-encoded bucket layout): two catalog tables written with
    // `option("buckets","16,src")` report bucket(16, src) partitioning
    // (resolved through the catalog's canonical floor-mod `bucket`
    // function), and under spark.sql.sources.v2.bucketing.enabled their
    // src-equi-join plans with ZERO shuffle exchanges — each key-grouped
    // bucket partition joins locally (EdgeSpjSpec pins the plan shape;
    // broadcast disabled so the exchange-free path is really exercised).
    // At 100 TB this is THE join strategy for repeatedly-joined tables:
    // the shuffle is paid once at write, never per query. The oracle
    // replays the join + aggregate in DuckDB.
    "edge_v2_spj" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_edges_spj_wh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      s.conf.set("spark.sql.catalog.graft_cats",
        classOf[graft.sources.v2.EdgeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cats.warehouse", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cats.db")
        s.sql("CREATE TABLE graft_cats.db.fwd (src BIGINT, dst BIGINT, w BIGINT)")
        s.sql("CREATE TABLE graft_cats.db.rev (src BIGINT, dst BIGINT, w BIGINT)")
        SparkEntry.edges(s, dir).withColumn("w", lit(1L))
          .writeTo("graft_cats.db.fwd").option("buckets", "16,src").append()
        SparkEntry.edges(s, dir)
          .selectExpr("dst AS src", "src AS dst", "CAST(1 AS BIGINT) AS w")
          .writeTo("graft_cats.db.rev").option("buckets", "16,src").append()
        s.sql("""SELECT f.src, count(*) AS pairs, sum(f.dst + r.dst) AS sum_dd
                 FROM graft_cats.db.fwd f JOIN graft_cats.db.rev r
                 ON f.src = r.src GROUP BY f.src""")
          .localCheckpoint(true)
      } finally {
        s.conf.unset("spark.sql.catalog.graft_cats")
        s.conf.unset("spark.sql.catalog.graft_cats.warehouse")
        s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }),

    // the connector's WRITE path: edges round-trip through the V2 batch
    // commit protocol (per-task staged files renamed into place only at
    // driver commit — a zombie attempt's output is never visible), then
    // read back through the same connector and aggregated — the oracle
    // recomputes from lineitem, so a lost/duplicated shard breaks the hash
    "edge_sink_v2" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2w"
      SparkEntry.edges(s, dir)
        .withColumn("w", lit(1L)).repartition(4)
        .write.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).mode("overwrite").save()
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .where(col("src") >= 100L && col("src") < 1500L)
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
    }),

    // the connector as a STREAMING sink: edges replayed through
    // writeStream land as epoch-committed shards (replayed epochs are
    // no-ops — exactly-once at shard granularity, spec-pinned), then the
    // published shards are read back and aggregated against the same
    // recomputed oracle — a dropped or doubled epoch breaks the hash
    "edge_sink_v2_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2ws"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(base), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"${base}_ckpt"), true)
      val rows = SparkEntry.edges(s, dir).withColumn("w", lit(1L))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val q = src.toDF().toDF("src", "dst", "w")
        .writeStream.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("checkpointLocation", s"${base}_ckpt")
        .outputMode("append").start()
      try
        for (chunk <- rows.grouped(math.max(1, rows.length / 4 + 1)))
          { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
      finally q.stop()
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .where(col("src") >= 100L && col("src") < 1500L)
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
    }),

    // TIME TRAVEL over the connector's epoch-committed shard history:
    // the sorted edge list streams through the V2 sink in 4 deterministic
    // chunks (one commit epoch each), then a snapshot read at
    // asOfEpoch=1 plans ONLY the first two epochs' shards (later epochs
    // are pruned at the manifest, never read) and groups by the hidden
    // `_epoch` metadata column. The oracle replays the chunk assignment
    // with row_number over the same (src, dst) order — a shard leaking
    // across the snapshot boundary, a wrong epoch stamp, or a lost
    // commit all break the hash.
    "edge_v2_time_travel" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2tt"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(base), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"${base}_ckpt"), true)
      val rows = SparkEntry.edges(s, dir).withColumn("w", lit(1L))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val q = src.toDF().toDF("src", "dst", "w")
        .writeStream.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("checkpointLocation", s"${base}_ckpt")
        .outputMode("append").start()
      try
        for (chunk <- rows.grouped(math.max(1, rows.length / 4 + 1)))
          { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
      finally q.stop()
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base)
        .option("asOfEpoch", "1").load()
        .select(col("_epoch").as("epoch"), col("src"), col("dst"))
        .groupBy("epoch")
        .agg(count(lit(1)).as("n_edges"), sum("src").as("sum_src"),
          sum("dst").as("sum_dst"))
    }),

    // COMPACTION + SNAPSHOT EXPIRY on the same shard history: after four
    // commit epochs, compact(upTo=1) folds epochs 0-1 distributed into a
    // fresh base generation published by one atomic marker rename and
    // expires the consumed shards. The read-back groups by `_epoch`, so
    // the oracle (the same row_number chunk replay, with chunks <= 1
    // collapsed to the base) catches a lost or doubled row in the
    // rewrite, a leaked expired shard, or a wrong surviving epoch stamp.
    "edge_v2_compact" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2cmp"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(base), new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"${base}_ckpt"), true)
      val rows = SparkEntry.edges(s, dir).withColumn("w", lit(1L))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val q = src.toDF().toDF("src", "dst", "w")
        .writeStream.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).option("checkpointLocation", s"${base}_ckpt")
        .outputMode("append").start()
      try
        for (chunk <- rows.grouped(math.max(1, rows.length / 4 + 1)))
          { src.addData(chunk.toIndexedSeq); q.processAllAvailable() }
      finally q.stop()
      graft.sources.v2.EdgeTextV2.compact(s, base, upToEpoch = 1L)
      s.read.format("graft.sources.v2.EdgeTextV2").option("path", base).load()
        .select(col("_epoch").as("epoch"), col("src"), col("dst"))
        .groupBy("epoch")
        .agg(count(lit(1)).as("n_edges"), sum("src").as("sum_src"),
          sum("dst").as("sum_dst"))
    }),

    // streaming twin through the connector's MicroBatchStream: file-count
    // offsets replay each shard exactly once (spec-pinned), the pushed
    // range filter evaluates inside every micro-batch's readers, and the
    // complete-mode degree aggregate converges to the batch answer —
    // same oracle
    "edge_source_v2_stream" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_edges_v2s"
      SparkEntry.edges(s, dir)
        .select(concat_ws(" ", col("src"), col("dst")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(base)
      val agg = s.readStream.format("graft.sources.v2.EdgeTextV2")
        .option("path", base).load()
        .where(col("src") >= 100L && col("src") < 1500L)
        .groupBy("src")
        .agg(count(lit(1)).as("deg"), sum("dst").as("sum_dst"))
      val name = s"graft_ev2s_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }),

    // ---- CO-LOCATED big-big join via bucketed layout: both fact tables
    // are written bucketBy(8, okey) once, then the orderkey equi-join
    // plans with NO Exchange on either side (each task reads matching
    // bucket files; spec-pinned with broadcast disabled). The 100-TB
    // trade: one layout shuffle at ingest instead of a full-table
    // exchange per downstream join. Result hashed against the plain-join
    // oracle, so the layout provably changes the plan and not the data.
    "bucketed_join" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed"
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("okey"), col("o_custkey"))
      val lb = graft.sources.BucketedTables.writeBucketed(
        l, "graft_lineitem_b", "okey", nBuckets = 8, base)
      val ob = graft.sources.BucketedTables.writeBucketed(
        o, "graft_orders_b", "okey", nBuckets = 8, base)
      graft.sources.BucketedTables.colocatedJoin(lb, ob, "okey")
        .groupBy("o_custkey")
        .agg(sum("l_quantity").cast("long").as("qty"),
          count(lit(1)).as("n_items"))
    }),

    // ---- EXACT quantiles in two sketch-pruned passes: pass 1 collects
    // the hard-bounded sketch (≤ ~1.9K rows for k=5, independent of corpus
    // size) and maps each permille to (bucket, offset); pass 2 re-scans
    // pruned to the ≤3 selected buckets and rank-selects within each —
    // exact order statistics without a corpus sort.
    "exact_quantile_2pass" -> ((s, dir) =>
      graft.sketch.QuantileSketch.exactQuantiles(
        qsVals(s, dir), "val", qsK, qsPermilles)),

    // ---- pane-composed SLIDING distinct users (HLL): per-15-min-pane
    // registers (one event-shuffle to O(panes · m) rows) max-merge into
    // each of the 4 overlapping hour windows — the 4x fan-out happens on
    // pane REGISTERS, never on events; the per-window estimate is the
    // same bias-corrected harmonic mean as sketch_hll_distinct (per-key
    // register sums are exact dyadic fractions, so the replay is
    // bit-stable cross-engine).
    "sliding_distinct_hll" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 DIV 900 * 900")
          .as("pane_s"),
          pmod(col("user_id"), lit(graft.text.TextOps.P)).as("h"))
      val paneRegs = e.groupBy(col("pane_s"),
          graft.sketch.HyperLogLog.bucket(col("h"), 32).as("bucket"))
        .agg(max(graft.sketch.HyperLogLog.rho(col("h"))).cast("long").as("rho"))
      val winRegs = paneRegs
        .withColumn("j", explode(array((0 to 3).map(lit): _*)))
        .select((col("pane_s") - col("j") * 900L).as("win_start_s"),
          col("bucket"), col("rho"))
        .groupBy("win_start_s", "bucket").agg(max("rho").as("rho"))
      graft.sketch.HyperLogLog.estimatePerKey(winRegs, Seq("win_start_s"), 32)
    }),

    // streaming twin: per-pane registers as a complete-mode streaming
    // aggregate (register-wise max IS the HLL merge monoid); the pane→
    // window fan-out and per-window estimate run on the converged
    // snapshot — same oracle as the batch form
    "sliding_distinct_hll_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 DIV 900 * 900")
          .as("pane_s"),
          pmod(col("user_id"), lit(graft.text.TextOps.P)).as("h"))
        .as[(Long, Long)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val paneRegs = src.toDF().toDF("pane_s", "h")
        .groupBy(col("pane_s"),
          graft.sketch.HyperLogLog.bucket(col("h"), 32).as("bucket"))
        .agg(max(graft.sketch.HyperLogLog.rho(col("h"))).cast("long").as("rho"))
      val sink = SparkEntry.streamReplay(s, src, paneRegs, rows.toIndexedSeq,
        Nil, "complete", "graft_sdh_stream")
      val winRegs = sink
        .withColumn("j", explode(array((0 to 3).map(lit): _*)))
        .select((col("pane_s") - col("j") * 900L).as("win_start_s"),
          col("bucket"), col("rho"))
        .groupBy("win_start_s", "bucket").agg(max("rho").as("rho"))
      graft.sketch.HyperLogLog.estimatePerKey(winRegs, Seq("win_start_s"), 32)
    }),

    // ---- sketch-DRIVEN curation trim: keep documents longer than the
    // corpus's p99 length estimate. The threshold is computed from the
    // O(64·2^k)-row sketch and broadcast (1 row) into a filtered scan of
    // the corpus — at 100 TB this is one bucketing shuffle plus one
    // map-side pass; an exact-percentile trim would be a full corpus sort.
    "quality_trim_p99" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val thr = graft.sketch.QuantileSketch.quantiles(
        graft.sketch.QuantileSketch.sketch(d, "n_chars", qsK), qsK, Seq(990))
        .select(col("est").as("threshold"))
      d.join(broadcast(thr), col("n_chars") > col("threshold"))
        .select(col("doc_id"), col("n_chars"), col("threshold"))
    }),

    // ---- REAL image resize: JDK decode + explicit nearest-neighbor
    // kernel (implementation-defined AWT scaling would not be replayable);
    // resized checksum is closed-form exact in the oracle
    "multimodal_image_resize" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
      val assets = ids.map(id => Multimodal.ImageAsset(id,
        Multimodal.ImageCodec.syntheticPng(id, (8 + id % 9).toInt, (8 + id % 7).toInt)))
      Multimodal.resizeImages(assets, outW = 6, outH = 5, partitions = 8).toDF()
        .select(col("asset_id"), col("src_w"), col("src_h"),
          col("out_w"), col("out_h"), col("pix_sum"))
    }),

    // REAL audio decode (javax.sound.sampled): deterministic 16-bit mono
    // PCM WAVs round-trip through the actual JDK codec; decoded frame
    // count / sample rate / signed sample checksum replayed in DuckDB
    "multimodal_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
      val assets = ids.map(id => Multimodal.AudioAsset(id,
        Multimodal.AudioCodec.syntheticWav(id, (200 + (id % 23) * 8).toInt)))
      Multimodal.decodeAudio(assets, partitions = 8).toDF()
        .select(col("asset_id"), col("n_samples"), col("sample_rate"), col("sample_sum"))
    }),

    // ---- context-window chunking (win=32, stride=24 → 8-token overlap):
    // the packing step between cleaning and tokenization. Pure narrow
    // flatMap — sequence/transform/slice higher-order functions, codegen'd,
    // zero shuffle, partition-invariant
    "doc_chunks" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          explode(TextOps.chunks(col("text"), win = 32, stride = 24)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_chunk_tokens").as("n_chunk_tokens"),
          col("c.chunk_text").as("chunk_text"))),

    // ---- duplicated-passage (span-level) dedup statistics: every doc's
    // 8-token spans tested for verbatim occurrence in OTHER docs. The
    // synthetic corpus is near-random (no natural 8-gram repeats), so a
    // shared passage is PLANTED on doc_id % 7 == 0 — those docs must
    // report dup spans, the rest 0 (non-vacuous both ways)
    "span_dup_stats" -> ((s, dir) =>
      Dedup.spanDupStats(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" p0 p1 p2 p3 p4 p5 p6 p7")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text", n = 8)),

    // ---- the excision half (Lee et al. 2022): tokens covered by any
    // corpus-duplicated 8-gram are REMOVED and the cleaned text emitted;
    // the same planted shared passage makes the gate non-vacuous
    "substring_dedup" -> ((s, dir) =>
      Dedup.substringDedup(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" p0 p1 p2 p3 p4 p5 p6 p7")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text", n = 8)),

    // ---- ingest-time twin: the dup-span set frozen from the batch corpus
    // cleans ARRIVING docs — span formation is row-local on the stream,
    // the membership test a stream-static join, per-doc start lists a
    // complete-mode aggregation; excision happens on the scored result
    "substring_dedup_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val planted = docs(s, dir).select(col("doc_id").cast("long"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" p0 p1 p2 p3 p4 p5 p6 p7")))
          .otherwise(col("text")).as("text"))
      val dup = Dedup.spanStarts(planted, "doc_id", "text", n = 8)
        .groupBy("span").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2).select("span")
      val rows = planted.as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val agg = Dedup
        .spanStarts(src.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 8)
        .join(dup, Seq("span"))
        .groupBy("doc_id").agg(collect_list(col("s")).as("starts"))
      val scored = graft.SparkEntry.streamReplay(s, src, agg,
        rows.toIndexedSeq, Nil, "complete", "graft_sdd_stream")
      Dedup.exciseWith(planted, "doc_id", "text", n = 8, scored)
    }),

    // ---- schema-on-read over the events.props JSON blob: extraction is a
    // row-local codegen'd path expression (get_json_object), no UDF.
    // try_cast, not cast: under ANSI a non-integer k would throw; with
    // try_cast malformed JSON, a missing key, and a non-integer k all
    // degrade to NULL — and the oracle mirrors each case (json_valid
    // guard + TRY_CAST) instead of hard-erroring the whole sweep
    "json_extract_props" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))),

    // ---- time-series resample + forward fill (LOCF): per-user hourly
    // grid (first full hour → last truncated hour), each grid point takes
    // the latest event value at-or-before it. The grid rides the SAME
    // union-and-carry as-of kernel as asof_join — one keyed shuffle, no
    // inequality join; ties at one (user, ts) resolve by largest event_id
    "resample_ffill" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val hour = expr("INTERVAL 1 HOUR")
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min("ts")).as("lo"),
          date_trunc("hour", max("ts")).as("hi"))
        // grid starts one hour AFTER trunc(min): every grid point then has
        // a predecessor event, so no NULL fills; sequence() needs the
        // emptiness guard DuckDB's generate_series builds in
        .where(col("lo") + hour <= col("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo") + hour, col("hi"), hour)).as("ts"),
          // the as-of kernel orders BOTH sides by the tie column; the grid
          // has one row per (user, hour), so a constant is a correct tie
          lit(0L).as("event_id"))
      graft.ops.AsofJoin.backward(grid, ev, "user_id", "ts", "event_id",
          payload = Seq("value"))
        .select(col("user_id"), col("ts").as("h"),
          round(col("asof_value"), 2).as("value"))
    }),

    // ---- streaming LOCF twin: the grid rows are SYNTHESIZED from O(1)
    // per-key state in flatMapGroupsWithState (the Flink-timer pattern —
    // emitted rows the input never contained). Hours strictly below an
    // arrival flush event-driven; exact-boundary hours are finalized by
    // the event-time timeout (a same-ts larger-tie twin may still arrive),
    // which also evicts the key — so the far-future sentinels both advance
    // the watermark and run the timed-out keys. Gated against the SAME
    // oracle as the batch form
    "resample_ffill_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.ResampleStream
      val evs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"), col("value"))
        .collect()
        .map(r => ResampleStream.ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(e => (e.tsUs, e.tie))
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ResampleStream.RsEv]
      val out = ResampleStream.resampleStream(
        src.toDS().withWatermark("ts", "1 millisecond")).toDF()
      val farUs = if (evs.isEmpty) 3600000000L else evs.last.tsUs + 3600000000L
      SparkEntry.streamReplay(s, src, out, evs.toIndexedSeq,
          Seq(ResampleStream.ev(-1L, farUs, -1L, 0.0),
            ResampleStream.ev(-1L, farUs + 1000000L, -2L, 0.0)),
          "append", "graft_rs_stream")
        .where(col("key") =!= -1L)
        .select(col("key").as("user_id"),
          timestamp_micros(col("hUs")).cast("timestamp_ntz").as("h"),
          round(col("value"), 2).as("value"))
    }),

    // ---- sequence packing (budget=256): concat docs in doc_id order,
    // split into fixed context windows — one (doc, pack) row per overlap.
    // The prefix sum is the size-gated window-or-distributed-scan kernel;
    // everything after it is a narrow explode
    "pack_sequences" -> ((s, dir) =>
      graft.ops.Packing.packSequences(docs(s, dir), "doc_id", "text",
        budget = 256)),

    // ---- deterministic epoch shuffle (seed=1): seeded pseudorandom
    // permutation of the corpus — the data-order randomization between
    // mixing and packing. Rides denseRankByOrder's size-gated rank kernel
    "epoch_shuffle" -> ((s, dir) =>
      graft.ops.Packing.epochShuffle(docs(s, dir), "doc_id", seed = 1L)),

    // ---- shuffle→pack composition: the dataloader's real order — pack
    // the SHUFFLED epoch (seed 1), not doc_id order. One flag on the same
    // kernel; the oracle re-derives the same hash order in SQL
    "pack_shuffled" -> ((s, dir) =>
      graft.ops.Packing.packSequences(docs(s, dir), "doc_id", "text",
        budget = 256, shuffleSeed = Some(1L))),

    // ---- token-rarity scoring: the integer-exact unigram-perplexity
    // proxy (rank-by-corpus-frequency instead of float log-probs, so the
    // gate is hash-exact). Histogram → size-gated rank → one dict join
    "token_rarity" -> ((s, dir) =>
      graft.text.Rarity.tokenRarity(docs(s, dir), "doc_id", "text")),

    // ---- bigram-LM surprisal: token_rarity with CONTEXT — inverse MLE
    // conditional odds floor(c(ctx)·2^16/c(bigram)) summed per doc, the
    // integer-exact KenLM-perplexity-filter proxy. Bigram formation is
    // row-local (slice+zip+explode), never a per-doc window
    "lm_bigram_score" -> ((s, dir) =>
      graft.text.BigramLm.bigramScore(docs(s, dir), "doc_id", "text")),

    // ---- streaming twin: the ingest-time shape — a FROZEN dict (the
    // batch-trained LM) scores arriving documents via a stream-static
    // join; per-doc totals are a complete-mode streaming aggregation.
    // Same oracle as the batch form (the dict is trained on the same
    // corpus the stream replays)
    "lm_bigram_score_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
      val dict = graft.text.BigramLm.oddsDict(
        graft.text.BigramLm.bigrams(d, "doc_id", "text"))
      val rows = d.as[(Long, String)].collect().sortBy(_._1)
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val agg = graft.text.BigramLm
        .bigrams(src.toDF().toDF("doc_id", "text"), "doc_id", "text")
        .join(dict, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nbig"), sum("odds").as("surprisal_sum"))
      val scored = graft.SparkEntry.streamReplay(s, src, agg,
        rows.toIndexedSeq, Nil, "complete", "graft_lm_stream")
      d.select("doc_id").join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nbig"), lit(0L)).as("nbig"),
          coalesce(col("surprisal_sum"), lit(0L)).as("surprisal_sum"))
    }),

    // ---- BPE merge-candidate counting: the tokenizer-training inner
    // loop — adjacent symbol pairs over the WORD HISTOGRAM (pairs counted
    // once per distinct word, weighted by frequency), EOW sentinel, top-K
    // via TakeOrderedAndProject with a deterministic (p1,p2) tie-break
    "bpe_top_merges" -> ((s, dir) =>
      graft.text.Bpe.topMerges(docs(s, dir), "doc_id", "text", k = 40)),

    // ---- PII redaction: emails/phones → placeholders, row-local
    // codegen'd regexp_replace (lookahead-free patterns both regex
    // engines agree on). The synthetic corpus is PII-free, so a
    // deterministic email+phone is PLANTED on doc_id % 11 == 0 — those
    // docs must count 1/1 and rewrite, the rest stay verbatim
    "pii_redact" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@example.com or call +1-555-010-2345 now")))
          .otherwise(col("text")).as("text"))
      val (ne, np) = TextOps.piiCounts(col("text"))
      planted.select(col("doc_id"), ne.as("n_emails"), np.as("n_phones"),
        TextOps.piiRedact(col("text")).as("redacted"))
    })
  )

  /** Inverted-index exact-Jaccard candidate CTEs (reads sh), shared by
    * [[jaccardSql]] and the dedup_eval_pr ground-truth side. */
  private val invCandCtes: String =
    "inv AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS s FROM sh), " +
      "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nsh AS na, b.nsh AS nb, " +
      "count(*) AS inter FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2, 3, 4)"

  /** ONE oracle for both exact-Jaccard forms (portable string keys and
    * xxhash64 index keys) — the fast variant must reproduce the string
    * result bit for bit. */
  private val jaccardSql: String =
    docs2Cte + ", " + tokCte("docs2") + ", " + shCte + ", " + invCandCtes + " " +
      "SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard " +
      "FROM cand WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5"

  /** ONE oracle for both LOCF resample forms (batch + streaming twin) —
    * a shared definition cannot drift. */
  private val resampleSql: String =
    "WITH ev AS (SELECT user_id, ts, max_by(value, event_id) AS value " +
      "FROM events GROUP BY user_id, ts), " +
      "b AS (SELECT user_id, date_trunc('hour', min(ts)) + INTERVAL 1 HOUR AS lo, " +
      "date_trunc('hour', max(ts)) AS hi FROM events GROUP BY user_id), " +
      "g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h " +
      "FROM b WHERE lo <= hi) " +
      "SELECT g.user_id, g.h, round(e.value, 2) AS value FROM g " +
      "ASOF JOIN ev e ON g.user_id = e.user_id AND g.h >= e.ts"

  /** The sampling entry's per-stratum integer thresholds — ONE scala
    * expression feeds both engines so they cannot drift. */
  private val sampleThreshEn = math.floor(0.25 * TextOps.P).toLong
  private val sampleThreshDefault = math.floor(0.75 * TextOps.P).toLong

  /** Shared HLL CTE chain (register replay over documents.text):
    * large-multiplier affine maps (range-of-g0 buckets, g1 trailing-zero
    * rho — see [[graft.sketch.HyperLogLog]] for why the bucket must come
    * from g0's range, not its low bits), pure integer arithmetic on both
    * engines. */
  private val hllRegCtes: String =
    "WITH hsrc AS (SELECT text AS s FROM documents), " +
      s"h AS (SELECT $phLambda AS h FROM hsrc), " +
      "g AS (SELECT (h * 48271 + 3) % 1000003 AS g0, (h * 16807 + 17) % 1000003 AS g1 FROM h), " +
      "reg AS (SELECT CAST((g0 * 32) // 1000003 AS BIGINT) AS bucket, " +
      "CAST(max(len(list_filter(generate_series(1, 20), k -> g1 % (1 << k) = 0)) + 1) AS BIGINT) AS rho " +
      "FROM g GROUP BY 1)"

  /** Exact 2^-rho lookup literal shared with [[graft.sketch.HyperLogLog]]
    * (scala doubles stringified — exact binary fractions round-trip). */
  private val hllInvList: String =
    graft.sketch.HyperLogLog.invPow2().map(_.toString).mkString("[", ", ", "]")

  /** SQL literal for a BPE symbol that may contain the EOW sentinel
    * (chr(31) spliced — control chars don't belong in SQL literals). */
  private def bpeSqlStr(s: String): String =
    "'" + s.replace(graft.text.Bpe.Eow, "' || chr(31) || '") + "'"

  /** The frozen-merge word encoder as nested DuckDB replaces (reads the
    * lambda variable `w`) — built by folding over the SAME FrozenMerges
    * constant the Spark column chain folds over, so the engines cannot
    * drift. */
  private val bpeEncodeWordSql: String =
    graft.text.Bpe.FrozenMerges.foldLeft(
      "'~' || array_to_string(list_append(string_split_regex(w, ''), chr(31)), '~') || '~'") {
      case (e, (l, r)) =>
        s"replace($e, ${bpeSqlStr("~" + l + "~" + r + "~")}, ${bpeSqlStr("~" + l + r + "~")})"
    }

  /** ONE oracle for both tokenizer-application forms (batch + the
    * tokenize-on-ingest stream twin). */
  private lazy val bpeEncodeOracle: String =
    "WITH " + tokCte("documents") + ", " +
      s"e AS (SELECT doc_id, array_to_string(list_transform(t, w -> $bpeEncodeWordSql), '/') AS enc, " +
      "CAST(len(t) AS BIGINT) AS nw FROM tok) " +
      "SELECT doc_id, CAST(length(enc) - length(replace(enc, '~', '')) AS BIGINT) - nw AS n_syms, enc FROM e"

  /** Per-lang HLL register replay (keyed form of [[hllRegCtes]]) — shared
    * by the native-SQL-aggregate gate and its estimate finalizer. */
  private val hllLangRegCtes: String =
    "WITH hsrc AS (SELECT lang, text AS s FROM documents), " +
      s"h AS (SELECT lang, $phLambda AS h FROM hsrc), " +
      "g AS (SELECT lang, (h * 48271 + 3) % 1000003 AS g0, " +
      "(h * 16807 + 17) % 1000003 AS g1 FROM h), " +
      "reg AS (SELECT lang, CAST((g0 * 32) // 1000003 AS BIGINT) AS bucket, " +
      "CAST(max(len(list_filter(generate_series(1, 20), k -> g1 % (1 << k) = 0)) + 1) AS BIGINT) AS rho " +
      "FROM g GROUP BY 1, 2)"

  /** Distinct-4-gram benchmark-overlap counts; shared by the batch
    * decontamination gate and its stream-static twin. */
  private val decontaminateOracle: String =
    "WITH " + tokCte("documents") + ", " +
      "sh4 AS (SELECT doc_id, CASE WHEN len(t) < 4 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_distinct(list_transform(generate_series(1, len(t) - 3), " +
      "i -> array_to_string(t[i:i+3], ' '))) END AS sh FROM tok), " +
      "bsh AS (SELECT DISTINCT unnest(sh) AS s FROM sh4 WHERE doc_id % 23 = 0), " +
      "csh AS (SELECT doc_id, unnest(sh) AS s FROM sh4 WHERE doc_id % 23 <> 0) " +
      "SELECT csh.doc_id, count(*) AS n_hits FROM csh JOIN bsh USING (s) GROUP BY 1"

  /** The composed curation pipeline replayed stage by stage in DuckDB —
    * shared by pipeline_curate (final docs) and pipeline_curate_stats
    * (per-stage attrition). Mirrors [[curatePipeline]] exactly; every
    * fragment is the proven oracle of its standalone catalog entry
    * (c4_line_filter, curation_rules, minhash pair chain,
    * dedup_cluster_keep's recursive components, decontaminate_ngram). */
  /** clean → quality-filter fragment: reads CTE `src(doc_id, text)`,
    * defines pl → cleaned → ctok → cm → curated. */
  private def curateCleanCtes(src: String): String =
    s"pl AS (SELECT doc_id, replace(text, ' line ', '.' || chr(10)) || chr(10) || " +
      s"'short one.' || chr(10) || 'the quick planted line ends with a period here.' AS t2 FROM $src), " +
      "cleaned AS (SELECT doc_id, array_to_string(list_filter(string_split(t2, chr(10)), " +
      "x -> len(regexp_split_to_array(trim(x), '\\s+')) >= 5 AND x LIKE '%.'), chr(10)) AS text FROM pl), " +
      "ctok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t, text FROM cleaned), " +
      "cm AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n, CAST(len(list_distinct(t)) AS BIGINT) AS nd, " +
      "len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS stop, " +
      "CAST(length(regexp_replace(trim(text), '\\s', '', 'g')) AS BIGINT) AS alpha FROM ctok), " +
      "curated AS (SELECT c.doc_id, c.text FROM cleaned c JOIN cm USING (doc_id) " +
      "WHERE n BETWEEN 20 AND 80 AND stop >= 1 AND 2*nd >= n AND alpha BETWEEN 4*n AND 5*n)"

  /** decontamination-keep fragment: reads CTE `src(doc_id, text)` plus
    * `d0(doc_id, text)` for the held-out bench split, defines
    * stok → ssh → btok → bsh → hits → fin(doc_id, n_tokens, text). */
  private def deconKeepCtes(src: String): String =
    s"stok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $src), " +
      "ssh AS (SELECT doc_id, CASE WHEN len(t) < 4 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_distinct(list_transform(generate_series(1, len(t) - 3), " +
      "i -> array_to_string(t[i:i+3], ' '))) END AS sh FROM stok), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM d0 WHERE doc_id % 23 = 0), " +
      "bsh AS (SELECT DISTINCT unnest(CASE WHEN len(t) < 4 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_distinct(list_transform(generate_series(1, len(t) - 3), " +
      "i -> array_to_string(t[i:i+3], ' '))) END) AS s FROM btok), " +
      "hits AS (SELECT DISTINCT c.doc_id FROM (SELECT doc_id, unnest(sh) AS s FROM ssh) c JOIN bsh USING (s)), " +
      s"fin AS (SELECT s.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens, s.text FROM $src s " +
      "JOIN stok t USING (doc_id) WHERE s.doc_id NOT IN (SELECT doc_id FROM hits))"

  private val curatePipelineCtes: String =
    "WITH RECURSIVE d0 AS (SELECT doc_id, text FROM documents), " +
      "base AS (SELECT doc_id, text FROM d0 " +
      s"UNION ALL SELECT doc_id + 100000, text || chr(10) || '$curateMutantLine' FROM d0 " +
      "UNION ALL SELECT doc_id + 200000, text FROM d0), " +
      "corp AS (SELECT doc_id, text FROM base WHERE doc_id % 23 <> 0), " +
      curateCleanCtes("corp") + ", " +
      "exact AS (SELECT min(doc_id) AS doc_id, text FROM curated GROUP BY text), " +
      tokCte("exact") + ", " + shCte + ", " + hsCte + ", " + sigBandsPairsCtes + ", " +
      "q AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b HAVING max(est_jaccard) >= 0.5), " +
      "e2 AS (SELECT id_a AS u, id_b AS v FROM q UNION SELECT id_b, id_a FROM q), " +
      "lab(n, l) AS (SELECT doc_id, doc_id FROM exact " +
      "UNION SELECT e2.v, lab.l FROM lab JOIN e2 ON e2.u = lab.n WHERE lab.l < e2.v), " +
      "keeper AS (SELECT n AS doc_id, min(l) AS keep_id FROM lab GROUP BY n), " +
      "surv AS (SELECT e.doc_id, e.text FROM exact e JOIN keeper k ON e.doc_id = k.doc_id " +
      "WHERE k.keep_id = e.doc_id), " +
      deconKeepCtes("surv")

  /** Ingest-time form: clean → quality-filter → decontaminate over the RAW
    * corpus (no dedup — dedup is a corpus-level batch pass; these three
    * stages are row-local / stream-static and run at ingest). Shared by
    * the pipeline_ingest_stream oracle. */
  private val ingestPipelineCtes: String =
    "WITH d0 AS (SELECT doc_id, text FROM documents), " +
      "corp AS (SELECT doc_id, text FROM d0 WHERE doc_id % 23 <> 0), " +
      curateCleanCtes("corp") + ", " +
      deconKeepCtes("curated")

  /** Highest-seq-wins replay of [[cdcLog]]; shared by the batch apply and
    * the scrambled streaming fold. */
  private val cdcOracle: String =
    "WITH log AS (SELECT doc_id, 1 AS seq, 'I' AS op, text FROM documents " +
      "UNION ALL SELECT doc_id, 2, 'U', text || ' v2' FROM documents WHERE doc_id % 3 = 0 " +
      "UNION ALL SELECT doc_id, 3, 'D', NULL FROM documents WHERE doc_id % 7 = 0), " +
      "w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn FROM log) " +
      "SELECT doc_id, text FROM w WHERE rn = 1 AND op <> 'D'"

  def oracleSql: Map[String, String] = Map(
    "dedup_cluster_keep" ->
      ("WITH RECURSIVE " + minhashPairsCtes.stripPrefix("WITH ") +
        ", q AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5), " +
        "e2 AS (SELECT id_a AS u, id_b AS v FROM q UNION SELECT id_b, id_a FROM q), " +
        "lab(n, l) AS (SELECT doc_id, doc_id FROM docs2 " +
        "UNION SELECT e2.v, lab.l FROM lab JOIN e2 ON e2.u = lab.n WHERE lab.l < e2.v) " +
        "SELECT n AS doc_id, min(l) AS keep_id FROM lab GROUP BY n"),
    "sketch_quantile_doclen" -> qsOracle,
    "sketch_quantile_stream" -> qsOracle,
    "window_quantile" -> windowQuantileOracle,
    "window_quantile_stream" -> windowQuantileOracle,
    "quality_trim_p99" -> qualityTrimOracle,
    "exact_quantile_2pass" -> exactQuantileOracle,
    "bucketed_join" ->
      ("SELECT o_custkey, CAST(sum(l_quantity) AS BIGINT) AS qty, " +
        "count(*) AS n_items FROM lineitem JOIN orders " +
        "ON l_orderkey = o_orderkey GROUP BY 1"),
    "edge_source_v2" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_source_v2_stream" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_sink_v2" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_v2_stats_prune" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_v2_agg_pushdown" ->
      (SparkEntry.edgesCte +
        " SELECT count(*) AS n_edges, min(src) AS min_src, " +
        "max(src) AS max_src, min(dst) AS min_dst, max(dst) AS max_dst " +
        "FROM edges"),
    "edge_v2_runtime_prune" ->
      (SparkEntry.edgesCte +
        ", dim AS (SELECT DISTINCT src FROM edges " +
        "WHERE src >= 100 AND src < 300) " +
        "SELECT e.src, count(*) AS deg, CAST(sum(e.dst) AS BIGINT) AS sum_dst " +
        "FROM edges e JOIN dim USING (src) GROUP BY 1"),
    "edge_v2_sql_catalog" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_v2_sql_delete" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_v2_sql_update" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, " +
        "CAST(sum(CASE WHEN src < 800 THEN 1 + dst ELSE 1 END) AS BIGINT) AS sum_w " +
        "FROM edges GROUP BY 1"),
    "edge_v2_sql_merge" ->
      (SparkEntry.edgesCte +
        ", m AS (SELECT src, dst, CASE WHEN src < 500 THEN 100 " +
        "WHEN src < 1000 THEN 11 ELSE 1 END AS w FROM edges " +
        "WHERE NOT (src >= 500 AND src < 1000 AND dst % 2 = 0)) " +
        "SELECT src, count(*) AS deg, CAST(sum(w) AS BIGINT) AS sum_w " +
        "FROM m GROUP BY 1"),
    "edge_v2_spj" ->
      (SparkEntry.edgesCte +
        ", rev AS (SELECT dst AS src, src AS dst FROM edges) " +
        "SELECT e.src, count(*) AS pairs, " +
        "CAST(sum(e.dst + rev.dst) AS BIGINT) AS sum_dd " +
        "FROM edges e JOIN rev USING (src) GROUP BY 1"),
    "edge_sink_v2_stream" ->
      (SparkEntry.edgesCte +
        " SELECT src, count(*) AS deg, CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM edges WHERE src >= 100 AND src < 1500 GROUP BY 1"),
    "edge_v2_time_travel" ->
      (SparkEntry.edgesCte +
        ", ranked AS (SELECT src, dst, " +
        "row_number() OVER (ORDER BY src, dst) - 1 AS rn FROM edges), " +
        "sz AS (SELECT GREATEST(1, (count(*) // 4) + 1) AS c FROM edges) " +
        "SELECT CAST(rn // (SELECT c FROM sz) AS BIGINT) AS epoch, " +
        "count(*) AS n_edges, CAST(sum(src) AS BIGINT) AS sum_src, " +
        "CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM ranked WHERE rn // (SELECT c FROM sz) <= 1 GROUP BY 1"),
    "edge_v2_compact" ->
      (SparkEntry.edgesCte +
        ", ranked AS (SELECT src, dst, " +
        "row_number() OVER (ORDER BY src, dst) - 1 AS rn FROM edges), " +
        "sz AS (SELECT GREATEST(1, (count(*) // 4) + 1) AS c FROM edges) " +
        "SELECT CAST(CASE WHEN rn // (SELECT c FROM sz) <= 1 THEN -1 " +
        "ELSE rn // (SELECT c FROM sz) END AS BIGINT) AS epoch, " +
        "count(*) AS n_edges, CAST(sum(src) AS BIGINT) AS sum_src, " +
        "CAST(sum(dst) AS BIGINT) AS sum_dst " +
        "FROM ranked GROUP BY 1"),
    "sliding_distinct_hll" -> slidingDistinctOracle,
    "sliding_distinct_hll_stream" -> slidingDistinctOracle,
    "near_dup_verify" ->
      (minhashPairsCtes +
        ", q AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5) " +
        "SELECT q.id_a, q.id_b, " +
        "CASE WHEN levenshtein(a.text, b.text) <= 20 " +
        "THEN levenshtein(a.text, b.text) ELSE -1 END AS lev, " +
        "CASE WHEN levenshtein(a.text, b.text) <= 20 THEN 1 ELSE 0 END AS verified " +
        "FROM q JOIN docs2 a ON a.doc_id = q.id_a JOIN docs2 b ON b.doc_id = q.id_b"),
    "split_leakage_safe" ->
      ("WITH RECURSIVE " + minhashPairsCtes.stripPrefix("WITH ") +
        ", q AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5), " +
        "e2 AS (SELECT id_a AS u, id_b AS v FROM q UNION SELECT id_b, id_a FROM q), " +
        "lab(n, l) AS (SELECT doc_id, doc_id FROM docs2 " +
        "UNION SELECT e2.v, lab.l FROM lab JOIN e2 ON e2.u = lab.n WHERE lab.l < e2.v), " +
        "comp AS (SELECT n AS doc_id, min(l) AS keep_id FROM lab GROUP BY n) " +
        s"SELECT doc_id, keep_id, CASE WHEN (keep_id * 48271 + 7) % ${graft.ops.Splits.P} " +
        s"< $splitCut THEN 'train' ELSE 'val' END AS split FROM comp"),
    "knn_graph" ->
      (lshPairCtes(nPlanes = 12, tables = 4, seed = 42L, dim = 64) +
        ", sym AS (SELECT id_a AS src, id_b AS nbr, cos FROM scored " +
        "UNION ALL SELECT id_b, id_a, cos FROM scored), " +
        "r AS (SELECT src, nbr, cos, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, nbr) AS rank FROM sym) " +
        "SELECT src AS vec_id, rank, nbr AS nbr_id, cos FROM r WHERE rank <= 3"),
    "trajectory_dedup" -> trajDedupOracle,
    "trajectory_dedup_stream" -> trajDedupOracle,
    "repetition_stats" ->
      ("WITH d2 AS (SELECT doc_id, coalesce(text, '') || ' r1 r2 r3 r1 r2 r3' AS text FROM documents), " +
        tokCte("d2") + ", " +
        "g AS (SELECT doc_id, t, CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')) END AS g3 FROM tok) " +
        "SELECT doc_id, " +
        "round(CASE WHEN len(t) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END, 6) AS dup_tok_frac, " +
        "round(CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(list_max(list_transform(list_distinct(t), " +
        "x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t) END, 6) AS top_tok_frac, " +
        "round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6) AS dup_3gram_frac " +
        "FROM g"),
    "curation_rules" ->
      ("WITH " + tokCte("documents") + ", " +
        "m AS (SELECT tok.doc_id, CAST(len(t) AS BIGINT) AS n, " +
        "CAST(len(list_distinct(t)) AS BIGINT) AS nd, " +
        "len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS stop, " +
        "CAST(length(regexp_replace(trim(documents.text), '\\s', '', 'g')) AS BIGINT) AS alpha " +
        "FROM tok JOIN documents USING (doc_id)), " +
        "r AS (SELECT doc_id, CAST(" +
        "CASE WHEN n BETWEEN 20 AND 80 THEN 0 ELSE 1 END " +
        "+ CASE WHEN stop >= 1 THEN 0 ELSE 2 END " +
        "+ CASE WHEN 2*nd >= n THEN 0 ELSE 4 END " +
        "+ CASE WHEN alpha BETWEEN 4*n AND 5*n THEN 0 ELSE 8 END AS BIGINT) AS fail_mask FROM m) " +
        "SELECT doc_id, fail_mask, fail_mask = 0 AS keep FROM r"),
    "c4_line_filter" ->
      ("WITH d AS (SELECT doc_id, replace(text, ' line ', '.' || chr(10)) || chr(10) || " +
        "'short one.' || chr(10) || 'the quick planted line ends with a period here.' AS t2 FROM documents), " +
        "l AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM d), " +
        "k AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, " +
        "list_filter(ls, x -> len(regexp_split_to_array(trim(x), '\\s+')) >= 5 AND x LIKE '%.') AS kept FROM l) " +
        "SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept, " +
        "array_to_string(kept, chr(10)) AS clean_text FROM k"),
    "pipeline_curate" ->
      (curatePipelineCtes + " SELECT doc_id, n_tokens, text FROM fin"),
    "pipeline_curate_stats" ->
      (curatePipelineCtes +
        " SELECT '1_corpus' AS stage, count(*) AS n_docs FROM corp" +
        " UNION ALL SELECT '2_curated', count(*) FROM curated" +
        " UNION ALL SELECT '3_exact', count(*) FROM exact" +
        " UNION ALL SELECT '4_near_dup', count(*) FROM surv" +
        " UNION ALL SELECT '5_final', count(*) FROM fin"),
    "pipeline_ingest_stream" ->
      (ingestPipelineCtes + " SELECT doc_id, n_tokens, text FROM fin"),
    "quality_classifier" ->
      ("WITH " + tokCte("documents") + ", " +
        "m AS (SELECT tok.doc_id, CAST(len(t) AS BIGINT) AS n, " +
        "CAST(len(list_distinct(t)) AS BIGINT) AS nd, " +
        "len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS stop, " +
        "CAST(length(regexp_replace(trim(documents.text), '\\s', '', 'g')) AS BIGINT) AS alpha " +
        "FROM tok JOIN documents USING (doc_id)) " +
        "SELECT doc_id, CAST(7*stop + 2*nd - 5*n + alpha AS BIGINT) AS logit, " +
        "7*stop + 2*nd - 5*n + alpha > 40 AS keep FROM m"),
    "bpe_encode" -> bpeEncodeOracle,
    "bpe_encode_stream" -> bpeEncodeOracle,
    "sample_stratified" ->
      (s"SELECT doc_id, lang FROM documents WHERE (doc_id % 1000003 * 48271 + 7) % 1000003 < " +
        s"CASE WHEN lang = 'en' THEN $sampleThreshEn ELSE $sampleThreshDefault END"),
    "token_topk" ->
      ("WITH " + tokCte("documents") +
        ", occ AS (SELECT unnest(t) AS token FROM tok) " +
        "SELECT token, count(*) AS cnt FROM occ GROUP BY token " +
        "ORDER BY cnt DESC, token LIMIT 25"),
    "token_topk_stream" ->
      ("WITH " + tokCte("documents") +
        ", occ AS (SELECT unnest(t) AS token FROM tok) " +
        "SELECT token, count(*) AS cnt FROM occ GROUP BY token " +
        "ORDER BY cnt DESC, token LIMIT 25"),
    "topk_per_group" ->
      ("WITH " + tokCte("documents") +
        ", d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM tok), " +
        "r AS (SELECT documents.lang, d.doc_id, d.n_tok, " +
        "row_number() OVER (PARTITION BY documents.lang " +
        "ORDER BY d.n_tok DESC, d.doc_id) AS rk " +
        "FROM d JOIN documents USING (doc_id)) " +
        "SELECT lang, CAST(rk AS INT) AS rk, doc_id, n_tok FROM r WHERE rk <= 3"),
    "bm25_topk" ->
      ("WITH " + tokCte("documents") +
        graft.text.Bm25.oracleCtes("['spark', 'hash', 'join']", k = 20)),
    "sketch_hll_registers" ->
      (hllRegCtes + " SELECT bucket, rho FROM reg"),
    "sketch_hll_sql_agg" ->
      (hllLangRegCtes + " SELECT lang, bucket, rho FROM reg"),
    "sketch_hll_sql_estimate" ->
      (hllLangRegCtes +
        ", agg AS (SELECT lang, sum((CAST(" + hllInvList + " AS DOUBLE[]))[rho]) AS s, " +
        "count(*) AS filled FROM reg GROUP BY lang), " +
        "e0 AS (SELECT lang, 0.697 * 32 * 32 / (s + (32 - filled)) AS raw, " +
        "CAST(32 - filled AS DOUBLE) AS zeros FROM agg) " +
        "SELECT lang, round(CASE WHEN raw <= 80.0 AND zeros > 0 " +
        "THEN 32.0 * ln(32.0 / zeros) ELSE raw END, 6) AS est FROM e0"),
    "sketch_hll_stream" ->
      (hllRegCtes + " SELECT bucket, rho FROM reg"),
    "sketch_hll_distinct" ->
      (hllRegCtes + ", agg AS (SELECT sum((CAST(" + hllInvList + " AS DOUBLE[]))[rho]) AS s, " +
        "count(*) AS filled FROM reg), " +
        "e0 AS (SELECT 0.697 * 32 * 32 / (s + (32 - filled)) AS raw, " +
        "CAST(32 - filled AS DOUBLE) AS zeros FROM agg) " +
        "SELECT round(CASE WHEN raw <= 80.0 AND zeros > 0 THEN 32.0 * ln(32.0 / zeros) ELSE raw END, 6) AS est FROM e0"),
    "multimodal_image_resize" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w, " +
        "CAST(8 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
        "px AS (SELECT doc_id, w, h, " +
        "(doc_id * 31 + ((gx.x * w) // 6) * 7 + ((gy.y * h) // 5) * 13) % 256 AS v " +
        "FROM d, generate_series(0, 5) gx(x), generate_series(0, 4) gy(y)) " +
        "SELECT doc_id AS asset_id, w AS src_w, h AS src_h, " +
        "CAST(6 AS BIGINT) AS out_w, CAST(5 AS BIGINT) AS out_h, " +
        "CAST(sum(v) AS BIGINT) AS pix_sum FROM px GROUP BY doc_id, w, h"),
    "doc_fingerprint" ->
      ("WITH norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s " +
        "FROM documents) SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split_regex(s, ''), c -> CAST(unicode(c) AS BIGINT))), " +
        "(a, b) -> (a * 131 + b % 1000003) % 1000003) AS fp FROM norm"),
    "lang_id" ->
      ("WITH " + tokCte("documents") + ", cnt AS (SELECT doc_id, " +
        "len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS en, " +
        "len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(t, x -> x IN ('le','la','et','les','des','un'))) AS fr, " +
        "len(list_filter(t, x -> x IN ('el','los','las','y','es','un'))) AS es FROM tok) " +
        "SELECT doc_id, CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 THEN 'und' " +
        "WHEN en>=de AND en>=fr AND en>=es THEN 'en' WHEN de>=fr AND de>=es THEN 'de' " +
        "WHEN fr>=es THEN 'fr' ELSE 'es' END AS lang_guess FROM cnt"),
    "quality_score" ->
      ("WITH " + tokCte("documents") + ", m AS (SELECT doc_id, " +
        "CAST(len(t) AS DOUBLE) AS ntok, " +
        "CAST(length(trim(text)) AS DOUBLE) AS chars, " +
        "CAST(length(trim(text)) - length(regexp_replace(trim(text), '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct, " +
        "CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE) AS stop " +
        "FROM tok JOIN documents USING (doc_id)) " +
        "SELECT doc_id, round(" +
        "(CASE WHEN ntok >= 20 AND ntok <= 1000 THEN 1.0 WHEN ntok > 0 THEN 0.5 ELSE 0.0 END) * 0.3 + " +
        "(CASE WHEN (CASE WHEN ntok > 0 THEN chars / ntok ELSE 0.0 END) >= 3.0 AND " +
        "(CASE WHEN ntok > 0 THEN chars / ntok ELSE 0.0 END) <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2 + " +
        "(CASE WHEN chars > 0 THEN 1.0 - punct / chars ELSE 0.0 END) * 0.3 + " +
        "(CASE WHEN ntok > 0 THEN least(stop * 4.0 / ntok, 1.0) ELSE 0.0 END) * 0.2, 6) AS score FROM m"),
    "minhash_lsh_pairs" ->
      (minhashPairsCtes +
        " SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5"),
    // streaming historical dedup: the SAME qualifying pair set, keeper =
    // min qualifying predecessor (arrival order == doc-id order in the
    // driver feed)
    "dedup_stream_minhash" ->
      (minhashPairsCtes +
        ", q AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5) " +
        "SELECT id_b AS doc_id, min(id_a) AS dup_of FROM q GROUP BY id_b"),
    "simhash" ->
      ("WITH " + tokCte("documents") + ", " + thCte + ", " + s4Cte + " " +
        "SELECT doc_id, sh[1] AS b0, sh[2] AS b1, sh[3] AS b2, sh[4] AS b3 FROM s4"),
    "simhash_pairs" ->
      (docs2Cte + ", " + tokCte("docs2") + ", " + thCte + ", " + s4Cte + ", " +
        "bands AS (SELECT doc_id, sh, j AS bidx, sh[j + 1] AS bkey " +
        "FROM s4, generate_series(0, 3) g(j)), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, 4), " +
        "i -> CAST(bit_count(xor(a.sh[i], b.sh[i])) AS BIGINT))), (x, y) -> x + y) AS hamming " +
        "FROM bands a JOIN bands b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, min(hamming) AS hamming FROM pairs GROUP BY 1, 2 " +
        "HAVING min(hamming) <= 6"),
    "lsh_cosine_pairs" -> lshOracle(threshold = 0.3, nPlanes = 12, tables = 4,
      seed = 42L, dim = 64),
    "semantic_dedup_keep" ->
      ("WITH RECURSIVE " +
        lshPairCtes(nPlanes = 12, tables = 4, seed = 42L, dim = 64)
          .stripPrefix("WITH ") +
        ", q AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.3)" +
        ", e2 AS (SELECT id_a AS u, id_b AS v FROM q UNION SELECT id_b, id_a FROM q)" +
        ", lab(n, l) AS (SELECT vec_id, vec_id FROM embeddings " +
        "UNION SELECT e2.v, lab.l FROM lab JOIN e2 ON e2.u = lab.n WHERE lab.l < e2.v) " +
        "SELECT n AS vec_id, min(l) AS keep_id FROM lab GROUP BY n"),
    "tfidf_doc_pairs" ->
      (tdocsCte + ", " + tokCte("tdocs") +
        graft.text.TfIdf.oracleCtes(maxDf = 100L, threshold = 0.8)),
    "sample_bottomk" ->
      ("SELECT doc_id, lang FROM documents " +
        "ORDER BY (doc_id % 1000003 * 48271 + 7) % 1000003, doc_id LIMIT 25"),
    "sample_per_group" ->
      ("WITH r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY (doc_id % 1000003 * 48271 + 7) % 1000003, doc_id) AS rk " +
        "FROM documents) " +
        "SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM r WHERE rk <= 3"),
    // the streamed bottom-k must reproduce the batch ranking window exactly
    "sample_per_group_stream" ->
      ("WITH r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY (doc_id % 1000003 * 48271 + 7) % 1000003, doc_id) AS rk " +
        "FROM documents) " +
        "SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM r WHERE rk <= 3"),
    // cap test first, product only below the cap — the same overflow-safe
    // predicate shape as Sampling.weightedHashSample (capW = ceil(P/12000))
    "sample_weighted" ->
      ("WITH " + tokCte("documents") +
        ", d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM tok) " +
        "SELECT doc_id, n_tok FROM d WHERE n_tok >= 84 OR " +
        "(n_tok > 0 AND (doc_id % 1000003 * 48271 + 7) % 1000003 < n_tok * 12000)"),
    "cdc_apply" -> cdcOracle,
    "cdc_apply_stream" -> cdcOracle,
    "cdc_diff" ->
      ("WITH a AS (" + cdcOracle + ") " +
        "SELECT coalesce(b.doc_id, a.doc_id) AS doc_id, " +
        "CASE WHEN a.doc_id IS NULL THEN 'D' WHEN b.doc_id IS NULL THEN 'I' " +
        "ELSE 'U' END AS op, a.text " +
        "FROM documents b FULL OUTER JOIN a ON b.doc_id = a.doc_id " +
        "WHERE a.doc_id IS NULL OR b.doc_id IS NULL " +
        "OR b.text IS DISTINCT FROM a.text"),
    "mix_token_budget" ->
      ("WITH " + tokCte("documents") +
        ", d AS (SELECT tok.doc_id, documents.source, CAST(len(t) AS BIGINT) AS n_tokens " +
        "FROM tok JOIN documents USING (doc_id))" +
        ", h AS (SELECT *, (doc_id % 1000003 * 48271 + 7) % 1000003 AS hh FROM d)" +
        ", c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id) AS cum FROM h) " +
        "SELECT doc_id, source, n_tokens FROM c WHERE cum - n_tokens < 600"),
    // exact isqrt = double sqrt with a single +-1 correction (exact below
    // 2^52); thresholds in HUGEINT replay the engine's BigInt math; the
    // ingest twin must converge to the identical relation
    "mix_temperature" -> mixTemperatureOracle,
    "mix_temperature_stream" -> mixTemperatureOracle,
    "quantile_doc_len" ->
      ("WITH " + tokCte("documents") +
        ", d AS (SELECT tok.doc_id, documents.lang, CAST(len(t) AS BIGINT) AS n_tok " +
        "FROM tok JOIN documents USING (doc_id))" +
        ", r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rk, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM d) " +
        "SELECT lang, max(CASE WHEN rk = (n + 1) // 2 THEN n_tok END) AS p50, " +
        "max(CASE WHEN rk = (n * 9 + 9) // 10 THEN n_tok END) AS p90, " +
        "max(n_tok) AS p100 FROM r GROUP BY lang"),
    "rollup_agg" ->
      ("WITH " + tokCte("documents") +
        ", d AS (SELECT documents.lang, CAST(tok.doc_id % 7 AS VARCHAR) AS slice, " +
        "CAST(len(t) AS BIGINT) AS n_tok FROM tok JOIN documents USING (doc_id)) " +
        "SELECT coalesce(lang, '(all)') AS lang, coalesce(slice, '(all)') AS slice, " +
        "CAST(count(*) AS BIGINT) AS n, CAST(sum(n_tok) AS BIGINT) AS tok_sum " +
        "FROM d GROUP BY ROLLUP (lang, slice)"),
    "pmi_cooccur" ->
      ("WITH " + tokCte("documents") +
        ", td AS (SELECT doc_id, list_distinct(t) AS t FROM tok)" +
        ", occ AS (SELECT doc_id, unnest(t) AS tok FROM td)" +
        ", ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1)" +
        ", st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM td)" +
        ", p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS c_ab " +
        "FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND a.tok < b.tok " +
        "GROUP BY 1, 2 HAVING count(*) >= 5) " +
        "SELECT tok_a, tok_b, c_ab, (1000000 * n * c_ab) // (x.c * y.c) AS lift_scaled " +
        "FROM p JOIN ca x ON x.tok = tok_a JOIN ca y ON y.tok = tok_b CROSS JOIN st"),
    "decayed_counts" ->
      ("WITH a AS (SELECT user_id, (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts)) " +
        "// 86400000000 AS age FROM events WHERE event_type = 'click') " +
        "SELECT user_id, CAST(sum(1073741824 >> LEAST(age, 63)) AS BIGINT) AS decayed " +
        "FROM a GROUP BY user_id"),
    "ann_ivf_topk" ->
      ("WITH cent AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16), " +
        "ac AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, c.cell, " +
        "round(" + cosSql("e.embedding", "c.cvec", 64) + ", 9) AS ccos " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT cand_id, cv, cell FROM (SELECT cand_id, cv, cell, " +
        "row_number() OVER (PARTITION BY cand_id ORDER BY ccos DESC, cell) AS arn FROM ac) " +
        "WHERE arn = 1), " +
        "qc AS (SELECT q.vec_id AS query_id, q.embedding AS qv, c.cell, " +
        "round(" + cosSql("q.embedding", "c.cvec", 64) + ", 9) AS pcos " +
        "FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20), " +
        "prb AS (SELECT query_id, qv, cell FROM (SELECT query_id, qv, cell, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, cell) AS prn FROM qc) " +
        "WHERE prn <= 4), " +
        "sc AS (SELECT p.query_id, a.cand_id, round(" + cosSql("p.qv", "a.cv", 64) + ", 9) AS cos " +
        "FROM prb p JOIN asg a USING (cell) WHERE p.query_id <> a.cand_id), " +
        "r AS (SELECT query_id, cand_id, cos, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank FROM sc) " +
        "SELECT query_id, cand_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5"),
    "ann_ivf_kmeans_topk" -> kmeansIvfOracle(nCells = 8, nProbe = 2, k = 5,
      iters = 2, dim = 64, nQueries = 20),
    "ann_pq_topk" -> pqOracle(m = 4, ksub = 8, k = 5, iters = 1, rerank = 4,
      dim = 64, nQueries = 20),
    "ngram_jaccard_pairs" -> jaccardSql,
    "dedup_eval_pr" ->
      (minhashPairsCtes + ", " + invCandCtes +
        ", lshq AS (SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b " +
        "HAVING max(est_jaccard) >= 0.5)" +
        ", exq AS (SELECT id_a, id_b FROM cand " +
        "WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5)" +
        ", u AS (SELECT l.id_a IS NOT NULL AS in_lsh, e.id_a IS NOT NULL AS in_exact " +
        "FROM lshq l FULL OUTER JOIN exq e ON l.id_a = e.id_a AND l.id_b = e.id_b)" +
        ", c AS (SELECT CAST(count(*) FILTER (WHERE in_lsh AND in_exact) AS BIGINT) AS tp, " +
        "CAST(count(*) FILTER (WHERE in_lsh AND NOT in_exact) AS BIGINT) AS fp, " +
        "CAST(count(*) FILTER (WHERE NOT in_lsh AND in_exact) AS BIGINT) AS fn FROM u) " +
        "SELECT tp, fp, fn, " +
        "CAST(floor(tp * 1000 / greatest(tp + fp, 1)) AS BIGINT) AS precision_milli, " +
        "CAST(floor(tp * 1000 / greatest(tp + fn, 1)) AS BIGINT) AS recall_milli FROM c"),
    // the hashed-key fast variant must reproduce the EXACT string-keyed
    // result — the oracle is shared, so an xxhash64 collision that changed
    // any intersection would hash-mismatch the gate
    "ngram_jaccard_pairs_fast" -> jaccardSql,
    "ngram_jaccard_pairs_capped" ->
      (docs3Cte + ", " + tokCte("docs3") + ", " + shCte + ", " +
        "inv AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS s FROM sh), " +
        "keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 100), " +
        "cinv AS (SELECT i.doc_id, i.nsh, i.s FROM inv i JOIN keep USING (s)), " +
        "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nsh AS na, b.nsh AS nb, " +
        "count(*) AS inter FROM cinv a JOIN cinv b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2, 3, 4) " +
        "SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard " +
        "FROM cand WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5"),
    "decontaminate_ngram" -> decontaminateOracle,
    "decontaminate_stream" -> decontaminateOracle,
    "embedding_norms" ->
      ("SELECT vec_id, round(sqrt(" + dotSql("embedding", "embedding", 64) + "), 9) AS nrm " +
        "FROM embeddings"),
    // the same floor(x·2^20+0.5) integer domain as the k-means/PQ oracles;
    // coordinate explode via a 1..64 index cross join (1-based list access)
    "embedding_covariance" ->
      ("WITH ei AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS v FROM embeddings), " +
        "idx AS (SELECT unnest(range(1, 65)) AS i), " +
        "c AS (SELECT ei.vec_id, idx.i, ei.v[idx.i] AS x FROM ei CROSS JOIN idx), " +
        "g AS (SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(sum(a.x * b.x) AS BIGINT) AS s_ij " +
        "FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2), " +
        "s AS (SELECT i - 1 AS i, CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n " +
        "FROM c GROUP BY 1) " +
        "SELECT g.i, g.j, si.n, si.s AS s_i, sj.s AS s_j, g.s_ij " +
        "FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j"),
    "embedding_pca_power" -> pcaPowerOracle(dim = 64, iters = 8),
    "embedding_pca_project" -> pcaProjectOracle(dim = 64, iters = 8),
    "ann_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings), " +
        "s AS (SELECT query_id, cand_id, round(" + dotSql("qv", "cv", 64) +
        " / (sqrt(" + dotSql("qv", "qv", 64) + ") * sqrt(" + dotSql("cv", "cv", 64) + ")), 9) AS cos " +
        "FROM q JOIN c ON query_id <> cand_id), " +
        "r AS (SELECT query_id, cand_id, cos, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank FROM s) " +
        "SELECT query_id, cand_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5"),
    "decontaminate_semantic" -> semDecontOracle,
    "decontaminate_semantic_stream" -> semDecontOracle,
    "multimodal_features" ->
      ("SELECT doc_id AS asset_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 64 END AS BIGINT) AS n_features " +
        "FROM documents"),
    "multimodal_frame_sample" ->
      ("WITH v AS (SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS len " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT asset_id, len, g.f AS frame_idx FROM v, generate_series(0, 9) g(f) " +
        "WHERE g.f % 3 = 0) " +
        "SELECT asset_id, frame_idx, frame_idx * 100 AS frame_ts_ms, " +
        "((frame_idx + 1) * len) // 10 - (frame_idx * len) // 10 AS n_bytes, " +
        "CAST(16 AS BIGINT) AS n_features FROM f"),
    "multimodal_image_decode" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w, " +
        "CAST(8 + doc_id % 7 AS INT) AS h FROM documents), " +
        "px AS (SELECT d.doc_id, d.w, d.h, " +
        "(d.doc_id * 31 + gx.x * 7 + gy.y * 13) % 256 AS v " +
        "FROM d, generate_series(0, 15) gx(x), generate_series(0, 13) gy(y) " +
        "WHERE gx.x < d.w AND gy.y < d.h) " +
        "SELECT doc_id AS asset_id, CAST(w AS BIGINT) AS width, " +
        "CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels, " +
        "CAST(sum(v) AS BIGINT) AS pix_sum FROM px GROUP BY doc_id, w, h"),
    "sketch_countmin_tokens" -> countMinOracle,
    "sketch_countmin_stream" -> countMinOracle,
    // bloom bit-pattern replay: positions from the qualifying keys, then
    // forall-probes-set membership per queried key — including the FPs
    "bloom_membership" ->
      ("WITH mb AS (SELECT GREATEST(64, 8 * count(*)) AS m FROM customer WHERE c_acctbal > 5000), " +
        "pos AS (SELECT DISTINCT ((c_custkey % 1000003) * (2*i.i + 1) + (17*i.i + 3)) " +
        "% 1000003 % mb.m AS p FROM customer, generate_series(0, 2) i(i), mb WHERE c_acctbal > 5000), " +
        "chk AS (SELECT c_custkey AS key, ((c_custkey % 1000003) * (2*i.i + 1) + (17*i.i + 3)) " +
        "% 1000003 % mb.m AS p FROM customer, generate_series(0, 2) i(i), mb) " +
        "SELECT key, CAST(CASE WHEN bool_and(p IN (SELECT p FROM pos)) THEN 1 ELSE 0 END AS BIGINT) " +
        "AS might_contain FROM chk GROUP BY key"),
    "bloom_semijoin" ->
      ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN " +
        "(SELECT c_custkey FROM customer WHERE c_acctbal > 5000)"),
    "multimodal_audio_decode" ->
      ("WITH d AS (SELECT doc_id, CAST(200 + (doc_id % 23) * 8 AS INT) AS ns FROM documents), " +
        "sm AS (SELECT d.doc_id, d.ns, ((d.doc_id * 31 + g.i * 7) % 65536) - 32768 AS v " +
        "FROM d, generate_series(0, 383) g(i) WHERE g.i < d.ns) " +
        "SELECT doc_id AS asset_id, CAST(ns AS BIGINT) AS n_samples, " +
        "CAST(8000 AS BIGINT) AS sample_rate, CAST(sum(v) AS BIGINT) AS sample_sum " +
        "FROM sm GROUP BY doc_id, ns"),
    "doc_chunks" ->
      ("WITH " + tokCte("documents") + ", " +
        "ch AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN CAST([] AS BIGINT[]) " +
        "ELSE generate_series(0, len(t) - 1, 24) END AS starts FROM tok), " +
        "u AS (SELECT doc_id, t, unnest(starts) AS s0 FROM ch) " +
        "SELECT doc_id, CAST(s0 // 24 AS BIGINT) AS chunk_idx, " +
        "CAST(least(32, len(t) - s0) AS BIGINT) AS n_chunk_tokens, " +
        "array_to_string(t[s0 + 1:s0 + 32], ' ') AS chunk_text FROM u"),
    "span_dup_stats" ->
      ("WITH sdocs AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 " +
        "THEN text || ' p0 p1 p2 p3 p4 p5 p6 p7' ELSE text END AS text FROM documents), " +
        tokCte("sdocs") + ", " +
        "sp AS (SELECT doc_id, unnest(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(generate_series(1, len(t) - 7), " +
        "i -> array_to_string(t[i:i+7], ' ')) END) AS span FROM tok), " +
        "d AS (SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2), " +
        "tt AS (SELECT doc_id, count(*) AS n_sp FROM sp GROUP BY doc_id), " +
        "pd AS (SELECT doc_id, count(*) AS n_dup FROM sp JOIN d USING (span) GROUP BY doc_id) " +
        "SELECT documents.doc_id, CAST(coalesce(tt.n_sp, 0) AS BIGINT) AS n_spans, " +
        "CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_spans " +
        "FROM documents LEFT JOIN tt USING (doc_id) LEFT JOIN pd USING (doc_id)"),
    "json_extract_props" ->
      ("SELECT event_id, CASE WHEN props IS NULL OR NOT json_valid(props) " +
        "THEN NULL ELSE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) " +
        "END AS k FROM events"),
    "resample_ffill" -> resampleSql,
    "resample_ffill_stream" -> resampleSql,
    "pack_sequences" ->
      ("WITH " + tokCte("documents") + ", " +
        "nt AS (SELECT doc_id, len(t) AS ntok FROM tok WHERE len(t) > 0), " +
        "c AS (SELECT doc_id, ntok, CAST(coalesce(sum(ntok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s0 FROM nt), " +
        "p AS (SELECT doc_id, ntok, s0, unnest(generate_series(s0 // 256, " +
        "(s0 + ntok - 1) // 256)) AS pack_id FROM c) " +
        "SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id, " +
        "CAST(least((pack_id + 1) * 256, s0 + ntok) - greatest(pack_id * 256, s0) " +
        "AS BIGINT) AS pack_tokens, " +
        "CAST(greatest(pack_id * 256, s0) - pack_id * 256 AS BIGINT) AS offset_in_pack " +
        "FROM p"),
    "epoch_shuffle" ->
      ("SELECT doc_id, CAST(row_number() OVER (ORDER BY " +
        s"(doc_id * ${graft.ops.Packing.shuffleMultiplier(1L)} + 54321) " +
        "% 2147483647, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM documents"),
    "pack_shuffled" ->
      ("WITH " + tokCte("documents") + ", " +
        "nt AS (SELECT doc_id, len(t) AS ntok FROM tok WHERE len(t) > 0), " +
        "c AS (SELECT doc_id, ntok, CAST(coalesce(sum(ntok) OVER (ORDER BY " +
        s"(doc_id * ${graft.ops.Packing.shuffleMultiplier(1L)} + 54321) % 2147483647, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s0 FROM nt), " +
        "p AS (SELECT doc_id, ntok, s0, unnest(generate_series(s0 // 256, " +
        "(s0 + ntok - 1) // 256)) AS pack_id FROM c) " +
        "SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id, " +
        "CAST(least((pack_id + 1) * 256, s0 + ntok) - greatest(pack_id * 256, s0) " +
        "AS BIGINT) AS pack_tokens, " +
        "CAST(greatest(pack_id * 256, s0) - pack_id * 256 AS BIGINT) AS offset_in_pack " +
        "FROM p"),
    "pii_redact" ->
      ("WITH p AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 " +
        "THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or call +1-555-010-2345 now' ELSE text END AS text " +
        "FROM documents) " +
        s"SELECT doc_id, CAST(len(regexp_extract_all(text, '${TextOps.emailPattern}')) " +
        "AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.phonePattern}')) " +
        "AS BIGINT) AS n_phones, " +
        s"regexp_replace(regexp_replace(text, '${TextOps.emailPattern}', '<EMAIL>', 'g'), " +
        s"'${TextOps.phonePattern}', '<PHONE>', 'g') AS redacted FROM p"),
    "token_rarity" ->
      ("WITH " + tokCte("documents") + ", " +
        "u AS (SELECT doc_id, unnest(t) AS w FROM tok), " +
        "f AS (SELECT w, count(*) AS c FROM u GROUP BY w), " +
        "r AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) - 1 AS rank FROM f), " +
        "s AS (SELECT doc_id, count(*) AS ntok, sum(rank) AS rarity_sum " +
        "FROM u JOIN r USING (w) GROUP BY doc_id) " +
        "SELECT documents.doc_id, CAST(coalesce(s.ntok, 0) AS BIGINT) AS ntok, " +
        "CAST(coalesce(s.rarity_sum, 0) AS BIGINT) AS rarity_sum " +
        "FROM documents LEFT JOIN s USING (doc_id)"),

    "lm_bigram_score" -> lmBigramOracle,
    "lm_bigram_score_stream" -> lmBigramOracle,

    "substring_dedup" -> substringDedupOracle,
    "substring_dedup_stream" -> substringDedupOracle,

    "bpe_top_merges" ->
      ("WITH " + tokCte("documents") + ", " +
        "u AS (SELECT unnest(t) AS w FROM tok), " +
        "wf AS (SELECT w, count(*) AS freq FROM u GROUP BY w), " +
        "sy AS (SELECT freq, list_append(string_split_regex(w, ''), chr(31)) AS cs FROM wf), " +
        "pos AS (SELECT freq, cs, unnest(generate_series(1, len(cs) - 1)) AS i FROM sy), " +
        "pr AS (SELECT cs[i] AS p1, cs[i + 1] AS p2, freq FROM pos), " +
        "g AS (SELECT p1, p2, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY p1, p2) " +
        "SELECT p1, p2, cnt FROM g ORDER BY cnt DESC, p1, p2 LIMIT 40")
  )

  // one SQL, two gates: the stream twin excises against the dup-span set
  // frozen from the same corpus, so its fixpoint IS the batch answer
  private val substringDedupOracle: String =
    "WITH sdocs AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 " +
      "THEN text || ' p0 p1 p2 p3 p4 p5 p6 p7' ELSE text END AS text FROM documents), " +
      tokCte("sdocs") + ", " +
      "pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i " +
      "FROM tok WHERE len(t) >= 8), " +
      "spn AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS span FROM pos), " +
      "d AS (SELECT span FROM spn GROUP BY span HAVING count(*) >= 2), " +
      "ds AS (SELECT doc_id, list(i) AS starts FROM spn JOIN d USING (span) GROUP BY doc_id), " +
      "k AS (SELECT tok.doc_id, t, coalesce(ds.starts, []) AS starts " +
      "FROM tok LEFT JOIN ds USING (doc_id)), " +
      "f AS (SELECT doc_id, len(t) AS ntok, list_filter(t, (x, i) -> " +
      "len(list_filter(starts, st -> i >= st AND i <= st + 7)) = 0) AS kept FROM k) " +
      // array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
      "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
      "CAST(ntok - len(kept) AS BIGINT) AS n_removed, " +
      "coalesce(array_to_string(kept, ' '), '') AS clean_text FROM f"

  // one SQL, two gates: the stream twin scores against the dict trained
  // on the same corpus, so its fixpoint IS the batch answer
  private val lmBigramOracle: String =
    "WITH " + tokCte("documents") + ", " +
      "pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i " +
      "FROM tok WHERE len(t) >= 2), " +
      "bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos), " +
      "cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2), " +
      "cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1), " +
      "odds AS (SELECT w1, w2, (cc * 65536) // cb AS odds " +
      "FROM cb JOIN cc USING (w1)), " +
      "s AS (SELECT doc_id, count(*) AS nbig, sum(odds) AS surprisal_sum " +
      "FROM bg JOIN odds USING (w1, w2) GROUP BY doc_id) " +
      "SELECT documents.doc_id, CAST(coalesce(s.nbig, 0) AS BIGINT) AS nbig, " +
      "CAST(coalesce(s.surprisal_sum, 0) AS BIGINT) AS surprisal_sum " +
      "FROM documents LEFT JOIN s USING (doc_id)"
}
