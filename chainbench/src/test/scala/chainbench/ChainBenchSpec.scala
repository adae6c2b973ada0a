package chainbench

import org.scalatest.funsuite.AnyFunSuite

class ChainBenchSpec extends AnyFunSuite {

  private def ods(seed: Long, ticks: Int): Array[Byte] = {
    val gen = new Gen(seed, Shape.byName("chain_tick"))
    val lines = gen.dims() ++ (0 until ticks).flatMap { _ =>
      val t = gen.tick()
      t.log ++ t.db ++ t.late
    }
    lines.mkString("\n").getBytes("UTF-8")
  }

  test("the same seed gives byte-identical ODS input; another seed gives other input") {
    val a = ods(7, 6)
    assert(java.util.Arrays.equals(a, ods(7, 6)))
    assert(!java.util.Arrays.equals(a, ods(8, 6)))
  }

  /** Tick 4's late rows fall in window 0, which tick 0 filled with on-time
    * rows. A seed whose late rows, but for their `late` field, repeat an
    * on-time row of tick 0. */
  private val collidingSeed: Long = (1L to 200L).find { seed =>
    val gen = new Gen(seed, Shape.byName("chain_tick"))
    val ticks = (0 to 4).map(_ => gen.tick())
    val onTime = (ticks.head.log ++ ticks.head.db).toSet
    ticks(4).late.exists(l => onTime(l.replace(""","late":"1"""", "")))
  }.get

  test("after tick 0, every tick plants out-of-order rows and late rows on distinct skus, " +
    "whose text no on-time row shares") {
    val shape = Shape.byName("chain_tick")
    val gen = new Gen(collidingSeed, shape)
    val ticks = (0 until 8).map(_ => gen.tick())
    val onTime = ticks.flatMap(t => t.log ++ t.db).toSet
    assert(ticks.head.late.isEmpty)
    ticks.tail.foreach { t =>
      assert(t.late.size == shape.late && t.late.distinct.size == shape.late)
      t.late.foreach(l => assert(!onTime(l), l))
      assert(t.db.count(_.contains(Gen.fmt(Gen.Base + t.index * Gen.WindowMs - 1000L))) >= shape.ooo)
    }
  }

  test("a run of five ticks or more, with late rows in filled windows, passes every check") {
    val root = java.nio.file.Files.createTempDirectory("chainbench").toString
    val res = Main.run(Config("chain_tick", seed = collidingSeed, seconds = 25, trace = false,
      root = root))
    assert(res.problems.isEmpty, res.problems)
    assert(Main.WarmTicks + res.attempted >= 5, s"${res.attempted} timed ticks")
  }

  test("a delay planted in one stage shows in its busy_ms and in tick_ms_p50 on chain_tick") {
    val root = java.nio.file.Files.createTempDirectory("chainbench").toString
    def run(delays: Map[String, Long]) = {
      val res = Main.run(Config("chain_tick", seed = 5, seconds = 1, trace = true,
        root = s"$root/${delays.size}", delays = delays))
      assert(res.problems.isEmpty, res.problems)
      val layer = res.perLayer.map(m => m.name -> m.value).toMap
      (layer("dwd.db_split.busy_ms"), layer("chain.tick_ms_p50"))
    }
    // The DB split heads the longest path (order wide, payment wide,
    // product stats). The chain keeps four cores busy, so part of a sleep
    // is absorbed: the log side runs meanwhile, and the split's own work
    // finishes sooner with the cores it no longer shares. A 10 s sleep
    // still shows as most of 10 s in the stage and a share of it in the tick.
    val delay = 10000L
    val (busy0, tick0) = run(Map.empty)
    val (busy1, tick1) = run(Map("dwd.db_split" -> delay))
    assert(busy1 - busy0 >= delay / 2, s"busy_ms $busy0 -> $busy1")
    assert(tick1 - tick0 >= delay / 4, s"tick_ms_p50 $tick0 -> $tick1")
  }
}
