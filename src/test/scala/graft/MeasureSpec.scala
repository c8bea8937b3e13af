package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

/** Runs every `Measure scale` probe once at its smallest size on the
  * sf0.001 fixtures (or its synthetic input), and checks that every
  * `runMain graft.…` command the docs quote names a main — and, for
  * `Measure scale`, a probe — that still exists. Nothing else runs the
  * probes, so without this they drift from the operators they measure.
  */
class MeasureSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Smallest run of each probe, and the result-line tag it must print. */
  private val smallest: Map[String, (Seq[String], String)] = Map(
    "av-soak" -> ((Seq("video", "2", "25", "spec"), "SOAK_AV_SUMMARY")),
    "bloom" -> ((Seq(sf, "1", "spec"), "SCALE_BLOOM")),
    "bloom-soak" -> ((Seq(sf, "1", "spec"), "SOAK_BLOOM_SUMMARY")),
    "bpe" -> ((Seq(sf, "1", "spec"), "SCALE_BPE")),
    "decontam" -> ((Seq(sf, "1", "spec"), "SCALE_DECONTAM")),
    "decontam-soak" -> ((Seq(sf, "1", "spec"), "SOAK_DC_SUMMARY")),
    "hamming" -> ((Seq(sf, "1", "spec"), "SCALE_HAMMING")),
    "index-append" -> ((Seq(sf, "1", "spec"), "SCALE_APPEND")),
    "lm" -> ((Seq(sf, "1", "spec"), "SCALE_LM_BIGRAM")),
    "media" -> ((Seq("1", "spec"), "SCALE_MEDIA")),
    "mp4-keyframes" -> ((Seq("2", "12", "3", "spec"), "KF_ECON")),
    "near-incremental" -> ((Seq(sf, sf, "spec"), "SCALE_NEAR_INC")),
    "near-soak" -> ((Seq(sf, "1", "20", "spec"), "SOAK_SUMMARY")),
    "search-index" -> ((Seq(sf, "1", "spec"), "SCALE_SEARCH")),
    "semantic" -> ((Seq(sf, "1", "spec"), "SCALE_SEM")),
    "semantic-soak" -> ((Seq(sf, "1", "20", "spec"), "SOAK_SEM_SUMMARY")),
    "sig-soak" -> ((Seq("1", "1000", "spec"), "SOAK_SIG_SUMMARY")),
    "spans" -> ((Seq(sf, "1", "spec"), "SCALE_SPANS")),
    "urls" -> ((Seq(sf, "1", "spec"), "SCALE_URLS")))

  test("every scale probe has a smallest-size run in this spec") {
    assert(smallest.keySet == ScaleProbes.table.keySet)
  }

  ScaleProbes.table.foreach { case (name, probe) =>
    test(s"scale probe '$name' prints its result line") {
      val (args, tag) = smallest(name)
      assert(probe.accepts(args), s"usage: $name ${probe.args}")
      val out = new ByteArrayOutputStream()
      Console.withOut(out)(probe.run(spark, args))
      val printed = out.toString("UTF-8")
      assert(printed.linesIterator.exists(_.startsWith(s"$tag ")),
        s"no $tag line in:\n$printed")
    }
  }

  test("every runMain command in the docs names a main or probe that exists") {
    val command = """runMain\s+graft\.(\w+)(?:\s+([\w-]+)(?:\s+([\w<>-]+))?)?""".r
    def isMain(obj: String): Boolean =
      try {
        Class.forName(s"graft.$obj").getMethod("main", classOf[Array[String]])
        true
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    Seq("SCALING.md", "README.md", ".claude/skills/verify/SKILL.md").foreach { doc =>
      val text = new String(Files.readAllBytes(Paths.get(doc)), "UTF-8")
      val found = command.findAllMatchIn(text).toSeq
      assert(found.nonEmpty, s"$doc quotes no runMain command")
      found.foreach { m =>
        val obj = m.group(1)
        assert(isMain(obj), s"$doc: `${m.matched}` names no main")
        if (obj == "Measure") {
          val mode = m.group(2)
          assert(Set("trace", "plan", "scale").contains(mode),
            s"$doc: `${m.matched}` names no Measure mode")
          val probe = Option(m.group(3)).getOrElse("")
          if (mode == "scale" && !probe.startsWith("<")) // `<probe>` placeholder
            assert(ScaleProbes.table.contains(probe),
              s"$doc: `${m.matched}` names no scale probe")
        }
      }
    }
  }
}
