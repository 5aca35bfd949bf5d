package perfbench

import scala.collection.mutable

import graft.app.Main
import graft.tables.Tables

/** The two workloads that drive `graft.app.Main.run` against the page
 * server: a full load, and a staged upsert of a seeded revision. */
object Rest {

  /** `Main.run load` of the base deals into an empty-or-replaced table.
   * Every run overwrites the table, so every run starts from one state. */
  def load(ctx: Ctx): Outcome = {
    val base = Deals.base(Harness.BaseRows)
    val expected = base.map(_.normalized)
    val (server, serverS) = Product.startServer(base, FaultSchedule.none)
    try {
      val (_, checkS) = Units.timed(Product.checkPages(server, base))
      val args = Main.parseArgs(Seq("load", "--input", server.url, "--table", Product.Table))
      val check = (_: Any) => Checks.table(Product.rows(ctx.spark, Product.Table), expected)
      val warm = warmUp(ctx, "load", server.beginUnit(_), Main.run(ctx.spark, args), check)
      val runs = Units.loop(ctx, 3, "load")(server.beginUnit)(_ =>
        Main.run(ctx.spark, args))((_, v) => check(v))
      outcome(ctx, server, warm, runs, ctx.sessionS + serverS + checkS + warm.map(_.seconds).sum)
    } finally server.stop()
  }

  /** `Main.run upsert --since --to` of a seeded revision of the last six
   * days into the preloaded base table. The table is reloaded before
   * every run, untimed; the reload times are the preload figure. */
  def upsert(ctx: Ctx): Outcome = {
    val base = Deals.base(Harness.BaseRows)
    val baseRows = base.map(_.normalized)
    val revision = Deals.revision(base, ctx.seed)
    val revRows = revision.map(_.normalized)
    val faults = FaultSchedule(ctx.seed, math.ceil(revision.size / 500.0).toInt, 0.05)
    val (server, serverS) = Product.startServer(revision, faults)
    try {
      val (_, checkS) = Units.timed(Product.checkPages(server, revision))
      val frame = Product.frame(ctx.spark, baseRows)
      val preloads = mutable.ArrayBuffer[Double]()
      def preload(unit: Int): Unit = {
        preloads += Units.timed(Tables.loadOverwrite(frame, Product.Table))._2
        server.beginUnit(unit)
      }
      // The program's URL template substitutes since/to unencoded, and the
      // space in "yyyy-MM-dd HH:mm:ss" is not a legal URL character, so the
      // template carries no {since}/{to} slots; the reader applies the range
      // to every row it fetches.
      val args = Main.parseArgs(Seq("upsert", "--input", server.url, "--table", Product.Table,
        "--key", "id", "--since", Deals.Since, "--to", Deals.To))
      val check = (_: Any) => Checks.upsert(Product.rows(ctx.spark, Product.Table), baseRows,
        revRows, Product.tables(ctx.spark))
      val warm = warmUp(ctx, "upsert", preload, Main.run(ctx.spark, args), check)
      val runs = Units.loop(ctx, 3, "upsert")(preload)(_ =>
        Main.run(ctx.spark, args))((_, v) => check(v))
      outcome(ctx, server, warm, runs, ctx.sessionS + serverS + checkS +
        Stats.median(preloads.toSeq) + warm.map(_.seconds).sum)
    } finally server.stop()
  }

  /** Untimed runs before the timed ones: the first is the cold run of the
   * JVM, the others let the JIT settle. */
  val WarmUps = 4

  private def warmUp(ctx: Ctx, name: String, prepare: Int => Unit, op: => Any,
                     check: Any => Option[String]): Seq[UnitRun] =
    (-1 to -WarmUps by -1).map(i => Units.once(ctx, i, traced = false, name)(prepare(i))(op)(check))

  private def outcome(ctx: Ctx, server: PageServer, warm: Seq[UnitRun], runs: Seq[UnitRun],
                      setupS: Double): Outcome = {
    val first = warm.head
    ctx.log(f"setup ${setupS}%.2f s (session ${ctx.sessionS}%.2f s, warm-up " +
      warm.map(r => f"${r.seconds}%.2f").mkString(" ") + " s); units " +
      runs.map(r => f"${r.seconds}%.2f").mkString(" "))
    val byUnit = server.served.groupBy(_.unit)
    val served = runs.map(r => byUnit.getOrElse(r.index, Nil))
    val pages = served.map(_.map(s => (s.range, s.page)).distinct.size).sum
    val all = warm ++ runs
    val e2e = EndToEnd(Stats.median(runs.map(_.seconds)), setupS,
      served.map(_.size).sum.toDouble / pages, all.size, all.count(!_.ok),
      runs.map(_.seconds * 1000))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val spans = ctx.tracer.rec.all
      server.served.filter(_.unit >= 0).foreach(s => ctx.tracer.rec.add(Span(
        ctx.tracer.rec.nextId("r"), s"u${s.unit}", ctx.tracer.rec.run, "request",
        s"page ${s.page} #${s.ordinal}", s.startUs, s.endUs,
        Map("status" -> s.status.toDouble, "bytes" -> s.bytes.toDouble))))
      val perUnit = runs.filter(_.traced).map { r =>
        val unit = spans.find(_.id == s"u${r.index}").get
        val jobs = spans.filter(s => s.kind == "job" && s.startUs >= r.startUs && s.startUs < r.endUs)
        Layers.within(ctx, spans, r.startUs, r.endUs) ++
          Layers.rest(byUnit.getOrElse(r.index, Nil)) ++ Map(
            "app.run_s" -> unit.durUs / 1e6,
            "app.driver_gap_s" -> Span.selfUs(unit, jobs) / 1e6,
            "app.heap_peak_mb" -> r.heapMb)
      }
      Layers.medians(perUnit) ++ Map(
        "app.first_run_s" -> first.seconds,
        "trace.overhead_ratio" -> Layers.overhead(runs))
    }
    Outcome(all.size, all.count(!_.ok), e2e, layers)
  }
}
