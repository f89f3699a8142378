package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Checks of the benchmark's own machinery, driven by `test_perfbench.py`:
  *
  *  - `fixtures SEED DIR` writes a sample of every generated input to DIR
  *    (the test compares the bytes across seeds);
  *  - `spans` checks span nesting and self-time arithmetic on synthetic spans;
  *  - `check-trace FILE` checks that the spans a traced run wrote nest.
  */
object SelfTest {

  def main(args: Array[String]): Unit = args.toList match {
    case "fixtures" :: seed :: dir :: Nil => fixtures(seed.toLong, dir)
    case "spans" :: Nil => exit(spans())
    case "check-trace" :: file :: Nil => exit(checkTrace(file))
    case _ =>
      System.err.println("usage: SelfTest fixtures SEED DIR | spans | check-trace FILE")
      sys.exit(2)
  }

  private def exit(errors: Seq[String]): Unit = {
    errors.foreach(e => System.err.println(s"selftest: $e"))
    sys.exit(if (errors.isEmpty) 0 else 1)
  }

  def fixtures(seed: Long, dir: String): Unit = {
    val root = Files.createDirectories(Paths.get(dir))
    def text(name: String, lines: Seq[String]): Unit =
      Files.write(root.resolve(name), lines.asJava)
    (0 until 3).foreach { i =>
      val f = Gen.envFile(seed, i, 5, 4, 100L)
      Files.write(root.resolve(f.name), f.content)
    }
    val c = Gen.curateCorpus(seed, 1000, 300)
    text("curate.txt", c.docs.map { case (d, t) => s"$d\t$t" })
    text("search-docs.txt", Gen.zipfDocs(seed, 1, 50, 0L).map { case (d, t) => s"$d\t$t" })
    text("queries.txt", Gen.tailQueries(seed, 4, 50).map(_.mkString(" ")))
    val cs = Gen.centers(seed, 4, 8)
    text("vectors.txt", Gen.vectors(seed, 2, 50, cs).map(_.mkString(",")))
  }

  /** A request tree with known self times, and a deliberately broken one. */
  def spans(): Seq[String] = {
    val ok = Seq(
      Span(1, 1, -1, "root", 0, 100),
      Span(1, 2, 1, "a", 10, 40),
      Span(1, 3, 1, "b", 30, 60), // overlaps a: covered union is 10..60
      Span(1, 4, 2, "a.x", 15, 20),
      Span(2, 5, -1, "root", 200, 210))
    val self = Tracer.selfTimes(ok).map { case (s, ns) => s.id -> ns }.toMap
    val want = Map(1L -> 50L, 2L -> 25L, 3L -> 30L, 4L -> 5L, 5L -> 10L)
    val broken = Seq(
      Span(1, 1, -1, "root", 0, 100),
      Span(1, 2, 1, "late", 50, 150),
      Span(2, 3, 1, "elsewhere", 10, 20),
      Span(1, 4, 9, "orphan", 10, 20))
    val tracer = new Tracer(true)
    tracer.request("outer") {
      tracer.span("mid") { tracer.span("inner")(Thread.sleep(2)) }
      tracer.span("sibling")(())
    }
    val live = tracer.all
    Tracer.nestingErrors(ok).map("clean tree: " + _) ++
      (if (self == want) Nil else Seq(s"self times $self, expected $want")) ++
      (if (Tracer.nestingErrors(broken).size == 3) Nil
       else Seq(s"broken tree gave ${Tracer.nestingErrors(broken)}")) ++
      Tracer.nestingErrors(live).map("live tracer: " + _) ++
      (if (live.size == 4 && live.map(_.req).distinct.size == 1) Nil
       else Seq(s"live tracer recorded $live"))
  }

  private val field = "\"([a-z_]+)\":(-?[0-9]+|\"[^\"]*\")".r

  def checkTrace(file: String): Seq[String] = {
    val spans = Files.readAllLines(Paths.get(file)).asScala.toSeq.map { l =>
      val m = field.findAllMatchIn(l).map(x => x.group(1) -> x.group(2)).toMap
      Span(m("req").toLong, m("id").toLong, m("parent").toLong,
        m("name").stripPrefix("\"").stripSuffix("\""),
        m("start_ns").toLong, m("end_ns").toLong)
    }
    if (spans.isEmpty) Seq(s"$file holds no spans") else Tracer.nestingErrors(spans)
  }
}
