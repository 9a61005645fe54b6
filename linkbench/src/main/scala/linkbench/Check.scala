package linkbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.locationtech.jts.geom.{Envelope, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKTReader

/** Brute-force reference for the correctness check, independent of the
  * engine: parse with plain JTS and relate a sampled source against
  * every target whose envelope intersects it. */
final class BruteForce(corpus: Corpus) {
  private val reader = new WKTReader(new GeometryFactory())

  private val tgt: Array[Geometry] = Array.tabulate(corpus.target.size)(i =>
    if (corpus.target.valid(i)) reader.read(corpus.target.wkt(i)) else null)
  private val tgtEnv: Array[Envelope] = tgt.map(g => if (g == null) null else g.getEnvelopeInternal)

  /** `k` distinct valid source ids, chosen by `seed`. */
  def sample(seed: Long, k: Int): Seq[String] = {
    val ok = corpus.source.valid.indices.filter(corpus.source.valid)
    val r = new SplittableRandom(seed)
    val picked = mutable.LinkedHashSet.empty[Int]
    val want = math.min(k, ok.length)
    while (picked.size < want) picked += ok(r.nextInt(ok.length))
    picked.toSeq.map(corpus.source.ids)
  }

  private val srcIndex: Map[String, Int] = corpus.source.ids.zipWithIndex.toMap

  /** (source id, target id) -> DE-9IM string for every envelope-
    * intersecting target of each sampled source: the rows GIA.nt
    * verifies. */
  def relations(ids: Seq[String]): Map[(String, String), String] =
    ids.flatMap { id =>
      val g = reader.read(corpus.source.wkt(srcIndex(id)))
      val e = g.getEnvelopeInternal
      tgt.indices.collect {
        case j if tgtEnv(j) != null && tgtEnv(j).intersects(e) =>
          (id, corpus.target.ids(j)) -> g.relate(tgt(j)).toString
      }
    }.toMap
}
