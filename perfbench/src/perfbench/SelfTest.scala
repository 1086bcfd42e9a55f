package perfbench

import graft.gtfs.RtDecode

/** The benchmark's own tests:
  *
  *   perfbench.SelfTest <end-to-end names...> -- <per-layer names...>
  *
  * with the names BENCHMARK.json declares. Exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case scala.util.control.NonFatal(e) => println(s"  $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val (e2e, perLayer) = (args.takeWhile(_ != "--").toSeq, args.dropWhile(_ != "--").drop(1).toSeq)
    val snapshots = Seq(0, 1, 19, 20, 77, Shape.SnapshotsPerDay + 3)
    def inputs(g: Gen): Seq[Array[Byte]] =
      g.staticFiles.map(_._2.getBytes("UTF-8")) ++ snapshots.flatMap(i => Seq(g.tripUpdates(i), g.vehiclePositions(i)))

    check("the same seed gives byte-identical inputs") {
      inputs(new Gen(7)).zip(inputs(new Gen(7))).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }
    check("a different seed gives different inputs") {
      !inputs(new Gen(7)).zip(inputs(new Gen(8))).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }

    /** Sizes as the program's decoder and a line count see them. */
    def sizes(g: Gen): Seq[Long] =
      g.staticFiles.map(_._2.count(_ == '\n').toLong) ++
        (0 until 2 * Shape.CorruptEvery).flatMap { i =>
          val tu = RtDecode.parseFeedSafe(g.tripUpdates(i))
          val vp = RtDecode.parseFeedSafe(g.vehiclePositions(i))
          Seq(tu.fold(-1L)(f => RtDecode.tripUpdates(f).size.toLong),
            tu.fold(-1L)(f => RtDecode.tripStopTimes(f).size.toLong),
            vp.fold(-1L)(f => RtDecode.vehiclePositions(f).size.toLong))
        }.sorted
    check("a different seed gives the same sizes and shares") {
      Seq(1L, 2L, 99L).map(s => sizes(new Gen(s))).distinct.size == 1
    }
    check("expected counts match the decoded snapshots") {
      val g = new Gen(3)
      (0 until 2 * Shape.CorruptEvery).forall { i =>
        val tu = RtDecode.parseFeedSafe(g.tripUpdates(i))
        val vp = RtDecode.parseFeedSafe(g.vehiclePositions(i))
        tu.fold(0L)(f => RtDecode.tripUpdates(f).size.toLong) == g.tuHeaders(i) &&
          tu.fold(0L)(f => RtDecode.tripStopTimes(f).size.toLong) == g.tuStopRows(i) &&
          vp.fold(0L)(f => RtDecode.vehiclePositions(f).size.toLong) == g.vpRows(i) &&
          tu.isEmpty == g.tuCorrupt(i) && vp.isEmpty == g.vpCorrupt(i)
      }
    }
    check("exactly one TU and one VP snapshot in every 20 is truncated") {
      val g = new Gen(5)
      (0 until 10).forall { b =>
        val block = b * Shape.CorruptEvery until (b + 1) * Shape.CorruptEvery
        block.count(g.tuCorrupt) == 1 && block.count(g.vpCorrupt) == 1
      }
    }

    check("the tail helper refuses a percentile with fewer than 10 samples beyond it") {
      (1 to 20).forall(n => Stats.tail((1 to n).map(_.toDouble)).isEmpty) &&
        (21 to 300).forall { n =>
          val xs = (1 to n).map(_.toDouble)
          Stats.tail(xs).exists { case (p, v) => p > 50 && xs.count(_ > v) >= 10 }
        }
    }

    check("the benchmark reports exactly the metrics BENCHMARK.json declares") {
      Main.endToEnd.map(_._1) == e2e && Main.perLayer.map(_._1) == perLayer
    }
    if (failures > 0) sys.exit(1)
  }
}
