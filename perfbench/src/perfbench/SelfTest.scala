package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Checks the benchmark itself: the generator is a function of its seed,
  * the output checks pass on a correct run and reject planted defects,
  * and the traced run writes the same output as the fused one.
  */
object SelfTest {

  private val Small = Corpus.Shape(volumes = 12, bodyPages = 60, minEntries = 10,
    maxEntries = 20, streets = 40, numbersPerStreet = 50, hitRate = 0.7, deadRate = 0.1)

  def run(work: Path): Boolean = {
    val root = work.resolve("selftest")
    Corpus.deleteTree(root)
    var ok = true
    def expect(cond: Boolean, what: String): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    val a = Corpus.ensure(root.resolve("a"), 7L, Small)
    val b = Corpus.ensure(root.resolve("b"), 7L, Small)
    val c = Corpus.ensure(root.resolve("c"), 8L, Small)
    expect(a.archiveDigest == b.archiveDigest, "same seed gives identical archives")
    expect(a.archiveDigest != c.archiveDigest, "another seed gives other archives")
    expect(a.volumes.exists(_.dead) && a.selected(Some(Corpus.SliceMinYear),
      Some(Corpus.SliceMaxYear)).size == 3, "corpus has dead volumes and a 3-volume slice")

    val spark = Main.newSession(work)
    try {
      val etl = new Etl(spark, a, root.resolve("run"), None, None, download = true)
      etl.runFused(root.resolve("out-fused"))
      val exp = etl.expected
      val out = etl.readOutput(root.resolve("out-fused"))
      val rows = out.withColumn("_rid", monotonically_increasing_id()).cache()
      def failures(df: DataFrame) = Checks.verify(df.drop("_rid"), etl.dimIds, exp)._1
      expect(failures(rows).isEmpty, s"checks pass on a correct run ${failures(rows)}")
      val victim = rows.filter(col("type") === "relation").orderBy(col("_rid")).head()
      val dropped = rows.filter(col("_rid") =!= victim.getAs[Long]("_rid"))
      expect(failures(dropped).nonEmpty, "checks reject one dropped relation")
      val flipped = dropped.unionByName(spark.range(1).select(lit("log").as("type"),
        lit("{}").as("value"),
        lit(victim.getAs[String]("from")).as("id"), lit(null).cast("string").as("to"),
        lit(null).cast("string").as("from"), lit(s"${Checks.MissPrefix}planted").as("error"),
        lit(null).cast("string").as("volumeUuid"), lit(-1L).as("_rid")))
      expect(failures(flipped).nonEmpty, "checks reject one hit flipped to a miss")
      val fused = Checks.outputDigest(out)
      out.unpersist()
      etl.runTraced(root.resolve("out-traced"), new Tracer("selftest"), None)
      expect(Checks.outputDigest(etl.readOutput(root.resolve("out-traced"))) == fused,
        "traced run writes the same output as the fused run")
    } finally Main.stopSession(spark)
    ok
  }
}
