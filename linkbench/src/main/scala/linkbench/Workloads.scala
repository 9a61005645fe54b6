package linkbench

/** The benchmark's workloads, both GIA.nt (`SpatialJoin.de9im`) over
  * the whole candidate set. A workload with a `budget` also runs the
  * budgeted progressive linker on its corpus in traced runs. Sizes are
  * fixed here so every run of a workload measures the same amount of
  * work; only the seed changes the coordinates. `warmupReps` is the
  * number of discarded repetitions before the measurement, unless the
  * warm-up reaches its time limit first (`Run.MaxWarmupSeconds`). */
final case class Workload(name: String, budget: Int, warmupReps: Int,
                          generate: Long => Corpus)

object Workloads {

  /** Many small axis-aligned rectangles: candidate generation, the tile
    * shuffle and the geometry join-back dominate; verification takes
    * the analytic rectangle path, and the working set is far larger
    * than the per-thread geometry cache. */
  val giaBoxes: Workload = Workload("gia_boxes", budget = 0, warmupReps = 22,
    seed => {
      val r = Corpus.random("gia_boxes", seed)
      val world = 1000000L
      Corpus(Corpus.boxes(r, "s", 160000, world, 250, 2250),
             Corpus.boxes(r, "t", 80000, world, 250, 2250))
    })

  /** Small triangles against small boxes plus 16 many-vertex
    * coastline polygons: JTS verification against the hot targets
    * dominates. The coastlines sit on a 4 × 4 grid; 200 triangles
    * straddle each coast and every other triangle keeps clear of them,
    * so each seed verifies the same number of costly pairs, spread over
    * the cores. The whole corpus (under 7,000 geometries) fits in the
    * per-thread geometry cache. Not every candidate qualifies here, so
    * traced runs also measure the progressive linker on this corpus,
    * with a budget below the candidate count. */
  val giaGiant: Workload = Workload("gia_giant", budget = 500, warmupReps = 13,
    seed => {
      val r = Corpus.random("gia_giant", seed)
      val world = 600000L
      val grid = 4
      val coasts = grid * grid
      val radius = 20000.0
      def centre(k: Int) = (75000L + 150000L * (k % grid), 75000L + 150000L * (k / grid))
      val clear = math.ceil(radius * 1.2 + 6000).toLong
      val plain = Corpus.side(r, "s", 3000) { r =>
        val s = 2000 + r.nextLong(4001)
        var x, y = 0L
        do { x = r.nextLong(world - s); y = r.nextLong(world - s) }
        while ((0 until coasts).exists { k =>
          val (cx, cy) = centre(k)
          math.abs(x + s / 2 - cx) < clear && math.abs(y + s / 2 - cy) < clear
        })
        Corpus.triangle(r, x, y, s)
      }
      var next = 0
      val coastal = Corpus.side(r, "c", 200 * coasts) { r =>
        val k = next % coasts
        next += 1
        val (cx, cy) = centre(k)
        val a = 2 * math.Pi * r.nextDouble()
        val rr = Corpus.coastRadius(radius, k, a)
        val s = 2000 + r.nextLong(4001)
        Corpus.triangle(r, cx + math.round(rr * math.cos(a)) - s / 2,
          cy + math.round(rr * math.sin(a)) - s / 2, s)
      }
      val small = Corpus.boxes(r, "t", 2500, world, 1000, 3000)
      val hot = (0 until coasts).map { k =>
        val (cx, cy) = centre(k)
        Corpus.coastline(cx, cy, radius, k, 8000)
      }.toArray
      Corpus(Corpus.concat(plain, coastal), Corpus.concat(small,
        Side(hot.indices.map(i => s"hot$i").toArray, hot, hot.map(_ => true))))
    })

  val all: Seq[Workload] = Seq(giaBoxes, giaGiant)

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
