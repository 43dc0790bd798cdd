package alcobench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spec = Gen.Spec(seed = 7, rowsPerBatch = 5000, daysPerBatch = 2,
    batchesPerDay = 2, dupShare = 0.03, crossShare = 0.03, tailConvs = 200)
  private def rows(s: Gen.Spec, from: Long, n: Int) =
    (from until from + n).map(Gen.row(s, _))

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives the same rows, another seed other rows") {
    assert(rows(spec, 0, 3000) == rows(spec, 0, 3000))
    assert(rows(spec, 0, 3000) != rows(spec.copy(seed = 8), 0, 3000))
    assert(Gen.funnel(spec, 1) == Gen.funnel(spec, 1))
    val mix = (0 until 30).map(i => Gen.grepOp(spec, 0, 3, 15000, i))
    assert(mix == (0 until 30).map(i => Gen.grepOp(spec, 0, 3, 15000, i)))
    assert(mix.map(_.cls).toSet == Gen.GrepClasses.toSet)
    assert(mix != (0 until 30).map(i => Gen.grepOp(spec.copy(seed = 8), 0, 3, 15000, i)))
  }

  test("planted shares: skew, malformed rows, roles, duplicates, Cyrillic text") {
    val n = 20000
    val bases = (0 until n).map(k => Gen.base(spec, k.toLong))
    def share(p: Gen.Base => Boolean) = bases.count(p).toDouble / n
    // FIXTURES.md §1: one hot conversation ~30%, the next nine ~30%, ~1% malformed
    assert(math.abs(share(_.convId == "conv_hot") - 0.30) < 0.02)
    assert(math.abs(share(_.convId.startsWith("conv_warm")) - 0.30) < 0.02)
    assert(math.abs(share(_.malformed) - 0.01) < 0.004)
    assert(bases.map(_.role).toSet == Set("user", "assistant", "system", "tool"))
    assert(share(_.text.exists(c => c >= 'Ѐ' && c <= 'ӿ')) > 0.05)
    val f = Gen.funnel(spec, 2)
    assert(f.input == f.quarantined + f.collapsed + f.routed)
    assert(f.collapsed > 0.01 * f.input && f.collapsed < 0.05 * f.input)
  }

  test("redeliveries point at an earlier original of this or the previous batch") {
    val b = 2L
    val start = spec.batchStart(b)
    val origins = (start until start + spec.rowsPerBatch).map(i => i -> Gen.origin(spec, i))
    val dups = origins.filter { case (i, k) => i != k }
    assert(dups.nonEmpty)
    dups.foreach { case (i, k) =>
      assert(k < i && k >= spec.batchStart(b - 1))
      assert(Gen.origin(spec, k) == k, "an original is never itself a redelivery")
    }
    assert(dups.exists(_._2 < start), "some redeliveries repeat committed rows")
    assert(dups.exists(_._2 >= start), "some repeat rows of the same batch")
  }

  test("consecutive trickle batches share days, so they overlap partitions") {
    def days(b: Long) = (spec.batchStart(b) until spec.batchStart(b) + 500)
      .map(i => Gen.base(spec, i).day).toSet
    assert((days(2) intersect days(3)).nonEmpty)
  }

  test("written files hold exactly the generator's rows for the seed") {
    val target = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(target)
    val dir = java.nio.file.Files.createTempDirectory(target, "gen-spec").toString
    try {
      Gen.writeTurns(spark, spec, 1, s"$dir/a")
      val a = spark.read.parquet(s"$dir/a").orderBy("turn_idx", "text").collect().toSeq
      assert(a.size == spec.rowsPerBatch)
      val expected = rows(spec, spec.batchStart(1), spec.rowsPerBatch)
        .sortBy(r => (r.turn_idx, r.text))
      assert(a.map(r => (r.getString(0), r.getInt(1), r.getString(3))) ==
        expected.map(r => (r.conv_id, r.turn_idx, r.text)))
      Gen.writeSf(spark, 7, Gen.SfSize(50, 200, 30, 60, 200, 20), s"$dir/sf")
      val docs = spark.read.parquet(s"$dir/sf/documents.parquet").orderBy("doc_id")
        .collect().map(_.getString(1)).toSeq
      assert(docs == (0L until 50L).map(Gen.doc(7, _).text))
    } finally Fs.delete(dir)
  }
}
