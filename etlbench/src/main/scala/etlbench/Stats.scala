package etlbench

/** Pure arithmetic behind the reported figures: medians, tail
  * percentiles with their sample counts, and interval algebra over
  * half-open `[start, end)` nanosecond intervals (the job-interval union
  * and the self-time split of the traced mode).
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (`p` in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** A tail latency honest about its support: the highest percentile on
    * the ladder that still has at least `minBeyond` samples above its
    * rank, as (percentile, value, sample count). None when even the
    * median lacks that support.
    */
  final case class Tail(pct: Int, value: Double, samples: Int)

  val Ladder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    Ladder.find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      n > 0 && n - rank >= minBeyond
    }.map(p => Tail(p, percentile(xs, p), n))
  }

  type Iv = (Long, Long)

  /** Sorted, disjoint union of intervals (empty ones dropped). */
  def union(iv: Seq[Iv]): Vector[Iv] = {
    val out = Vector.newBuilder[Iv]
    var cur: Option[Iv] = None
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some(c) => out += c; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach(out += _)
    out.result()
  }

  def measure(iv: Seq[Iv]): Long = union(iv).map { case (s, e) => e - s }.sum

  /** Parts of `iv` inside `[lo, hi)`. */
  def clip(iv: Seq[Iv], lo: Long, hi: Long): Vector[Iv] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toVector

  /** `a` minus `b`, as a disjoint union. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Vector[Iv] = {
    val bs = union(b)
    union(a).flatMap { case (s0, e0) =>
      var pieces = Vector((s0, e0))
      bs.foreach { case (bs0, be0) =>
        pieces = pieces.flatMap { case (s, e) =>
          if (be0 <= s || bs0 >= e) Vector((s, e))
          else Vector((s, bs0), (be0, e)).filter { case (x, y) => y > x }
        }
      }
      pieces
    }
  }

  /** One traced span: a layer name and its interval. */
  final case class Span(layer: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Self-time split of one op. `op` is the entry-point call (its layer
    * owns whatever no child explains); `stages` are disjoint child spans
    * inside it; `jobs` are Spark job intervals and `fsCalls` FsOps call
    * intervals, both measured as unions (parallel jobs or calls count
    * once). Spark time wins over FsOps time where they overlap. Every
    * nanosecond of the op lands in exactly one layer, so the values sum
    * to the op's wall time.
    */
  def selfTimes(op: Span, stages: Seq[Span], jobs: Seq[Iv],
      fsCalls: Seq[Iv]): Map[String, Long] = {
    val j = union(clip(jobs, op.start, op.end))
    val f = minus(clip(fsCalls, op.start, op.end), j)
    val both = union(j ++ f)
    val out = scala.collection.mutable.LinkedHashMap[String, Long](
      op.layer -> 0L, "spark" -> measure(j), "fsops" -> measure(f))
    var covered = 0L
    var inside = 0L
    stages.foreach { st =>
      val s = math.max(st.start, op.start)
      val e = math.min(st.end, op.end)
      if (e > s) {
        val inner = measure(clip(both, s, e))
        out(st.layer) = out.getOrElse(st.layer, 0L) + (e - s - inner)
        covered += e - s
        inside += inner
      }
    }
    val outside = measure(both) - inside
    out(op.layer) = out(op.layer) + (op.dur - covered - outside)
    out.toMap
  }
}
