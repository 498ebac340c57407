package perfbench

/** Checks of the benchmark's own arithmetic and generator, run before
  * every measurement: a run whose yardstick is broken must not report. */
object SelfTest {
  private def expect(what: String)(ok: Boolean): Unit =
    if (!ok) throw new AssertionError(s"perfbench self-test failed: $what")

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def run(): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    // tail: the highest percentile that leaves at least ten samples beyond it
    expect("tail of 100 samples is p90 = 90")(Stats.tail(hundred).contains(90 -> 90.0))
    expect("tail of 1000 samples is p99")(Stats.tail((1 to 1000).map(_.toDouble)).contains(99 -> 990.0))
    expect("tail of 30 samples is p66 = 20, leaving 10")(Stats.tail((1 to 30).map(_.toDouble)).contains(66 -> 20.0))
    expect("no tail below 20 samples")(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    expect("tail of 20 samples is the median")(Stats.tail((1 to 20).map(_.toDouble)).contains(50 -> 10.0))
    expect("tail ignores sample order")(Stats.tail(hundred.reverse) == Stats.tail(hundred))
    expect("median odd/even")(Stats.median(Seq(3, 1, 2)) == 2 && Stats.median(Seq(4, 1, 3, 2)) == 2.5)
    // interval union, and driver_gap_ms built on it
    expect("disjoint intervals add")(close(Stats.unionLength(Seq((0, 1), (2, 3)), 0, 10), 2))
    expect("overlaps count once")(close(Stats.unionLength(Seq((0, 2), (1, 3), (2.5, 4)), 0, 10), 4))
    expect("nested intervals count once")(close(Stats.unionLength(Seq((0, 10), (2, 3)), 0, 10), 10))
    expect("intervals clip to the request")(close(Stats.unionLength(Seq((-5, 2), (8, 15)), 0, 10), 4))
    expect("driver gap = wall minus job union")(close(Stats.driverGap(0, 10, Seq((1, 3), (2, 4), (6, 7))), 6))
    expect("no jobs: the whole request is gap")(close(Stats.driverGap(5, 9, Nil), 4))
    // amplification ratios
    expect("bytes per user byte")(close(Stats.amplification(300, 100), 3.0))
    expect("write amplification below one")(close(Stats.amplification(50, 200), 0.25))
    expect("no user bytes is an error")(scala.util.Try(Stats.amplification(1, 0)).isFailure)
    expect("score rounding is half-up at 4 decimals")(
      Stats.round4(0.12345) == 0.1235 && Stats.round4(-0.12345) == -0.1235 && Stats.round4(0.99994) == 0.9999)
    // the generator: same seed, same bytes; another seed, other bytes
    val a = new Gen(7).docs("corpus", 50)
    expect("same seed gives identical documents")(Gen.digest(a) == Gen.digest(new Gen(7).docs("corpus", 50)))
    expect("another seed gives other documents")(Gen.digest(a) != Gen.digest(new Gen(8).docs("corpus", 50)))
    expect("vectors are unit length")(a.forall(d => close(Brute.dot(d.vector, d.vector), 1.0)))
    expect("documents have the documented shape")(a.forall(d =>
      d.vector.length == Gen.Dim && d.text.split(" ").length == Gen.DocTokens &&
        d.page >= 0 && d.page < Gen.Pages))
    expect("vocabulary words are distinct")(Gen.Vocab.distinct.size == Gen.VocabSize)
  }
}
