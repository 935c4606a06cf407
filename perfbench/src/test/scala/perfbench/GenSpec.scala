package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The generator's contract: a seed fixes every byte of every input. */
class GenSpec extends AnyFunSuite {

  private def inTemp[T](f: Path => T): T = {
    val d = Files.createTempDirectory("perfbench-gen")
    try f(d) finally Main.deleteTree(d)
  }

  private def bytes(d: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(d)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private val generators: Seq[(String, (Path, Long) => Seq[Gen.FileFact])] = Seq(
    "curation" -> ((d, s) => Gen.curation(d, s, 300, 0.1, 0.1).files),
    "small_jobs" -> ((d, s) => Gen.small(d, s, 0.05).files))

  for ((name, gen) <- generators) {
    test(s"$name: the same seed writes the same bytes and digest") {
      inTemp { a =>
        inTemp { b =>
          val fa = gen(a, 7L)
          val fb = gen(b, 7L)
          assert(fa == fb)
          assert(Gen.digest(fa) == Gen.digest(fb))
          assert(bytes(a) == bytes(b))
          assert(fa.forall(f => f.rows > 0 && f.bytes == Files.size(a.resolve(f.name))))
        }
      }
    }

    test(s"$name: another seed writes other bytes") {
      inTemp { a =>
        inTemp { b =>
          assert(Gen.digest(gen(a, 7L)) != Gen.digest(gen(b, 8L)))
        }
      }
    }
  }

  test("curation: exact copies carry ids above every original") {
    inTemp { d =>
      val c = Gen.curation(d, 3L, 500, 0.1, 0.1)
      assert(c.exactCopyIds.size == 50)
      assert(c.exactCopyIds.forall(_ > 500))
      assert(c.docs == 600)
    }
  }

  test("small_jobs: filter expectations are consistent") {
    inTemp { d =>
      val e = Gen.small(d, 5L, 0.05).expect
      assert(e.keySet == Set("csv_filter", "join_agg", "split_merge", "xml_agg",
        "excel_agg", "ndjson_tc", "window", "jdbc_upsert"))
      val sm = e("split_merge")
      assert(sm.forwarded("m.merge") == sm.forwarded("fa.pass") + sm.forwarded("fb.pass"))
      assert(e("csv_filter").received("w.in") == e("csv_filter").forwarded("flt.pass"))
    }
  }
}
