package graft.perfbench

/** Checks of the recorder's interval arithmetic; exits non-zero on the
  * first wrong answer. Run by `perfbench/test_perfbench.py`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    import Recorder.unionMillis
    val cases: Seq[(Seq[(Long, Long)], Long, Long, Long)] = Seq(
      (Nil, 0L, 100L, 0L),
      (Seq((10L, 20L)), 0L, 100L, 10L),
      (Seq((10L, 20L), (15L, 30L)), 0L, 100L, 20L),           // overlap
      (Seq((10L, 20L), (20L, 30L)), 0L, 100L, 20L),           // touching
      (Seq((10L, 20L), (40L, 50L)), 0L, 100L, 20L),           // disjoint
      (Seq((40L, 50L), (10L, 20L), (12L, 18L)), 0L, 100L, 20L), // unsorted, nested
      (Seq((0L, 100L), (10L, 20L)), 0L, 100L, 100L),          // containing
      (Seq((-50L, 30L), (90L, 200L)), 0L, 100L, 40L),         // clipped both ends
      (Seq((150L, 200L)), 0L, 100L, 0L),                      // outside the window
      (Seq((10L, 10L), (30L, 20L)), 0L, 100L, 0L))            // empty and inverted
    val bad = cases.filter { case (iv, lo, hi, want) => unionMillis(iv, lo, hi) != want }
    bad.foreach { case (iv, lo, hi, want) =>
      System.err.println(s"unionMillis($iv, $lo, $hi) = ${unionMillis(iv, lo, hi)}, want $want")
    }
    if (bad.nonEmpty) sys.exit(1)
    println(s"interval union: ${cases.size} cases ok")
  }
}
