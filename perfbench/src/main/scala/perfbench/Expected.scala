package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Outputs pinned for [[Workloads.DefaultSeed]] in `expected.json`, derived
  * once by [[Pins]] with engines other than the fast one. They hold for every
  * seed of a workload whose seed only relabels nodes; `batch` on other
  * seeds is checked against the in-run oracle only. */
object Expected {
  @volatile var path: java.nio.file.Path = _

  private lazy val root: JsonNode = new ObjectMapper().readTree(path.toFile)

  /** Workloads whose seed only relabels nodes, so their pins hold for every seed. */
  val relabelled = Set("stream_b1000", "stream_churn_b20000")

  private def pinned(workload: String, seed: Long): Option[JsonNode] =
    if (seed != Workloads.DefaultSeed && !relabelled(workload)) None
    else Option(root.get(workload)).orElse(throw new IllegalStateException(s"no pins for $workload in $path"))

  /** Per-batch (match-change rows, net weight) of the batches that ran, as
    * far as they are pinned. */
  def checkStream(workload: String, seed: Long, perBatch: Seq[(Long, Long)]): Seq[String] =
    pinned(workload, seed).toSeq.flatMap { node =>
      val want = node.get("per_batch").elements().asScala.map(a => (a.get(0).asLong(), a.get(1).asLong())).toIndexedSeq
      perBatch.zip(want).zipWithIndex.collect {
        case ((got, pin), i) if got != pin => s"$workload batch $i: got $got, pinned $pin"
      }
    }

  /** (bindings, Σ weight) per query. */
  def checkBatch(workload: String, seed: Long, got: Map[String, (Long, Long)]): Seq[String] =
    pinned(workload, seed).toSeq.flatMap { node =>
      got.toSeq.sortBy(_._1).flatMap { case (q, v) =>
        val a = node.get(q)
        val want = if (a == null) None else Some((a.get(0).asLong(), a.get(1).asLong()))
        if (want.contains(v)) None else Some(s"$workload $q: oracle $v, pinned ${want.getOrElse("none")}")
      }
    }
}
