package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The harness's own tests: the tail-percentile choice, driver-gap
  * arithmetic, generator determinism, and fingerprint invariance.
  *
  * Usage: perfbench.SelfTest --work DIR (run.py --selftest runs it).
  */
object SelfTest {
  private val results = mutable.ArrayBuffer[(String, Boolean, String)]()

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; (name, true, "") }
    catch { case e: Throwable => (name, false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    println(f"selftest ${if (r._2) "PASS" else "FAIL"} ${r._1}%s ${r._3}%s")
    results += r
  }

  private def eq[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  /** Content digest of every regular file under `dir`, keyed by relative
    * path with Spark's per-write unique file-name parts removed. */
  private def dirDigest(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString == "_SUCCESS")
      .toSeq
    files.map { f =>
      val rel = root.relativize(f).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
      md.reset()
      rel -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap
  }

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
  }

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("--work is required"))

    test("tail percentile keeps >= 10 samples beyond it") {
      eq(Stats.tailPercentile(100), 0.9, "n=100")
      eq(Stats.tailPercentile(120), 0.9, "n=120")
      eq(Stats.tailPercentile(40), 0.75, "n=40")
      eq(Stats.tailPercentile(1000), 0.99, "n=1000")
      eq(Stats.tailPercentile(10000), 0.999, "n=10000")
      eq(Stats.tailPercentile(12), 0.5, "n=12 falls back to the median")
      for (n <- 20 to 2000) {
        val t = Stats.tail((1 to n).map(_.toDouble))
        if (t.beyond < 10) throw new AssertionError(s"n=$n leaves ${t.beyond} samples beyond p${t.percentile}")
        val above = (1 to n).count(_ > t.value)
        if (above < 10) throw new AssertionError(s"n=$n: only $above samples exceed ${t.value}")
      }
      eq(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.5), 2.5, "interpolated median")
    }

    test("driver gap is wall time minus the union of task intervals") {
      eq(Stats.unionLength(Seq((10L, 30L), (20L, 40L), (60L, 70L))), 40L, "overlapping union")
      eq(Stats.unionLength(Seq((0L, 10L), (10L, 20L))), 20L, "touching intervals")
      eq(Stats.unionLength(Seq((5L, 5L), (7L, 3L))), 0L, "empty intervals")
      eq(Stats.gap(0L, 100L, Seq((10L, 30L), (20L, 40L), (60L, 70L))), 60L, "gap")
      eq(Stats.gap(50L, 100L, Seq((0L, 60L), (90L, 150L))), 30L, "intervals clipped to the window")
      eq(Stats.gap(0L, 100L, Nil), 100L, "no tasks")
    }

    val spark = GraftSession.local("graft-perfbench-selftest")
    try {
      def sameAndDifferent(name: String)(gen: (Long, String) => Unit): Unit =
        test(s"generator $name: same seed byte-identical, other seed different") {
          gen(7L, s"$work/$name-a"); gen(7L, s"$work/$name-b"); gen(8L, s"$work/$name-c")
          val a = dirDigest(s"$work/$name-a")
          if (a.isEmpty) throw new AssertionError("generator wrote no files")
          eq(dirDigest(s"$work/$name-b"), a, "same seed")
          if (dirDigest(s"$work/$name-c") == a) throw new AssertionError("seeds 7 and 8 wrote the same bytes")
          Seq("a", "b", "c").foreach(s => deleteTree(s"$work/$name-$s"))
        }
      def args(seed: Long): Main.Args = Main.Args("", seed, 1, trace = false, work, None, None, writeExpected = false)

      sameAndDifferent("tables")((seed, dir) => new Gen(spark, seed).tables(dir, 0.001))
      sameAndDifferent("collect")((seed, dir) => new CollectWorkload(args(seed)).generate(spark, dir))
      sameAndDifferent("graph")((seed, dir) => new GraphWorkload(args(seed)).generate(spark, dir))
      sameAndDifferent("stream")((seed, dir) => new StreamWorkload(args(seed)).generate(spark, dir))
      test("collect request plan: same seed same requests, other seed different") {
        def reqs(seed: Long) = {
          val w = new CollectWorkload(args(seed)); w.generate(spark, s"$work/plan-$seed")
          w.requests.map(r => (r.id.dropWhile(_ != '-'), r.row.map(_.toString), r.rows, r.invalid))
        }
        eq(reqs(3), reqs(3), "same seed")
        if (reqs(3) == reqs(4)) throw new AssertionError("seeds 3 and 4 planned the same requests")
        if (reqs(3).map(_._4).sum == 0) throw new AssertionError("no invalid request generated")
      }

      test("fingerprint is invariant under row order and partitioning") {
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("d", DoubleType), StructField("s", StringType),
          StructField("a", ArrayType(DoubleType)), StructField("m", MapType(StringType, DoubleType)),
          StructField("st", StructType(Seq(StructField("x", DoubleType), StructField("y", StringType)))),
          StructField("dup", IntegerType), StructField("dup", StringType)))
        val rows = (0 until 500).map { i =>
          Row(i.toLong, if (i % 7 == 0) null else i / 3.0, s"s${i % 11}", Seq(i * 0.1, i * 0.2),
            Map(s"a$i" -> i * 1.5, s"b$i" -> -i.toDouble), Row(i * 1e-3, if (i % 5 == 0) null else "y"), i % 3, s"d$i")
        }
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        val base = Fingerprint.of(df)
        eq(base.rows, 500L, "row count")
        eq(Fingerprint.of(df.orderBy(rand(3))), base, "reordered")
        eq(Fingerprint.of(df.repartition(7)), base, "repartitioned")
        eq(Fingerprint.of(df.repartition(3, col("s")).sortWithinPartitions(col("d").desc)), base, "hash-partitioned")
        eq(Fingerprint.of(df.coalesce(1)), base, "one partition")
        // floating noise below the kept digits does not change it...
        eq(Fingerprint.of(df.withColumn("d", col("d") * (1.0 + 1e-14))), base, "last-bit noise")
        // ...but a changed value, a dropped row or a duplicated row does
        val changed = Fingerprint.of(df.withColumn("d", when(col("k") === 3, lit(42.0)).otherwise(col("d"))))
        if (changed == base) throw new AssertionError("a changed value kept the fingerprint")
        if (Fingerprint.of(df.filter(col("k") =!= 9)) == base) throw new AssertionError("a dropped row kept it")
        if (Fingerprint.of(df.union(df.limit(1))) == base) throw new AssertionError("a duplicate kept it")
      }
    } finally spark.stop()

    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed}/${results.size} passed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
