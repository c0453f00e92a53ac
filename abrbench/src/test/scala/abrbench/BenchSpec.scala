package abrbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: seeded inputs, generated change shares and
  * ground truth, the order statistics, and the delta-CSV check.
  */
class BenchSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("abrbench-spec")

  /** A weekly drop as the workloads write it: every dataset, zipped. */
  private def drop(seed: Long, dir: Path): Array[Byte] = {
    val pop = new Gen.Population(seed, 2000)
    pop.advance(Gen.Churn(0.03, 0.01, 0.005))
    val date = Gen.baseDate(seed)
    val files = ("Agency_Data" +: Gen.otherDatasets).map { ds =>
      val p = dir.resolve(Gen.fileName(date, ds))
      Gen.writeFile(p) { out =>
        if (ds == "Agency_Data") pop.write(out)
        else Gen.writeOther(out, seed, ds, 500, 1)
      }
      p
    }
    val z = dir.resolve("drop.zip")
    Gen.zip(z, files)
    Files.readAllBytes(z)
  }

  test("the same seed gives byte-identical inputs, another seed others") {
    val a = drop(7, tmp())
    val b = drop(7, tmp())
    val c = drop(8, tmp())
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
  }

  test("Agency_Data rows have the pipeline's 34 pipe-delimited columns") {
    val out = new ByteArrayOutputStream()
    new Gen.Population(3, 200).write(out)
    val lines = out.toString("UTF-8").split("\n")
    assert(lines.length == 200)
    assert(lines.forall(_.split("\\|", -1).length == 34))
    // realistic empties: some columns are mostly empty, pid never
    val empties = lines.map(_.split("\\|", -1).count(_.isEmpty))
    assert(empties.sum > 200 * 5 && lines.forall(!_.startsWith("|")))
  }

  test("generated churn, add and remove shares match the requested ones") {
    for ((c, seed) <- Seq(Gen.Churn(0.03, 0.01, 0.005) -> 1L,
                          Gen.Churn(0.5, 0.1, 0.05) -> 2L)) {
      val n = 10000
      val t = new Gen.Population(seed, n).advance(c)
      assert(t.removed.size == math.round(n * c.removed))
      assert(t.added.size == math.round(n * c.added))
      val changed = math.round(n * c.changed).toDouble
      assert(t.updatedNullSafe.size <= changed)
      assert(t.updatedNullSafe.size >= 0.95 * changed)
      assert(t.updated.subsetOf(t.updatedNullSafe))
      // empty<->value transitions exist, and alone are no Legacy update
      assert(t.updated.size < t.updatedNullSafe.size)
      assert((t.added & t.removed).isEmpty &&
        (t.updatedNullSafe & (t.added ++ t.removed)).isEmpty)
    }
  }

  test("ground truth agrees with a row-by-row diff of the rendered weeks") {
    val pop = new Gen.Population(5, 3000)
    def rows(): Map[Long, Seq[Option[String]]] =
      (0 until pop.size).map(i =>
        pop.pids(i) -> Gen.attrs.indices.map(pop.value(i, _))).toMap
    val before = rows()
    val t = pop.advance(Gen.Churn(0.2, 0.02, 0.02))
    val after = rows()
    val both = before.keySet & after.keySet
    val nullSafe = both.filter(k => before(k) != after(k))
    // Legacy: NULL != x is not true, so only value-to-value changes count
    val legacy = both.filter(k => before(k).zip(after(k)).exists {
      case (Some(x), Some(y)) => x != y
      case _ => false
    })
    assert(t.updatedNullSafe == nullSafe)
    assert(t.updated == legacy)
    assert(t.added == after.keySet -- before.keySet)
    assert(t.removed == before.keySet -- after.keySet)
  }

  test("percentile, median and tail helpers") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 90) == 91.0)
    // a tail percentile needs at least ten samples beyond it
    assert(Stats.tail((1 to 99).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0))
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("a tampered delta CSV is reported as an error") {
    val dir = tmp()
    val f = dir.resolve("Agency_Data_updated.csv")
    val header = "pid,abn,org_nm"
    val good = Seq(header, "10000003,1,A", "10000001,2,B", "10000002,3,")
    val keys = Set(10000001L, 10000002L, 10000003L)
    def check(lines: Seq[String]) = {
      Files.writeString(f, lines.mkString("", "\n", "\n"))
      Check.deltaCsv(f, header, keys)
    }
    assert(check(good).isEmpty)
    assert(check(good.dropRight(1)).nonEmpty, "missing row")
    assert(check(good :+ "10000001,2,B").nonEmpty, "duplicated row")
    assert(check(good.updated(1, "10000009,1,A")).nonEmpty, "wrong key")
    assert(check(good.updated(0, "pid;abn;org_nm")).nonEmpty, "header")
    assert(check(good.updated(2, "x10000001,2,B")).nonEmpty, "garbled key")
    assert(Check.deltaCsv(dir.resolve("other.csv"), header, keys).nonEmpty,
      "wrong file name")
  }
}
