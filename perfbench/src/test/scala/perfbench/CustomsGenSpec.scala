package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.etl.{KnowledgeBase, Pipeline}
import graft.sources.CustomsSource
import CustomsGen._

class CustomsGenSpec extends SparkSuite {
  private val spec = Spec(2000, Customs.months((2022, 1), 12), "T")

  test("the same seed gives identical bytes; another seed does not") {
    val d = tempDir()
    write(7L, spec, d.resolve("a.csv"))
    write(7L, spec, d.resolve("b.csv"))
    write(8L, spec, d.resolve("c.csv"))
    val a = Files.readAllBytes(d.resolve("a.csv"))
    assert(a.sameElements(Files.readAllBytes(d.resolve("b.csv"))))
    assert(!a.sameElements(Files.readAllBytes(d.resolve("c.csv"))))
  }

  test("category counts are the requested shares, exactly") {
    val c = counts(2000, defaultShares)
    assert(c.values.sum == 2000)
    defaultShares.foreach { case (cat, share) => assert(c(cat) == math.round(share * 2000)) }
    assert(c(NoMatch) == 2000 - defaultShares.values.map(s => math.round(s * 2000)).sum)
  }

  test("the pipeline sees the shares: kept rows, KB hits, regex, parts, used") {
    val b = write(11L, spec, tempDir().resolve("batch.csv"))
    val fact = CustomsSource.readCustomsCsv(spark, b.path.toString)
    assert(fact.count() == 2000)
    val out = Pipeline.run(fact, KnowledgeBase.sampleModelKb(spark),
      KnowledgeBase.sampleRegexKb(spark), Customs.rates(spark)).cache()
    def n(cond: org.apache.spark.sql.Column) = out.filter(cond).count()
    val c = b.counts
    assert(out.count() == b.expectedOut)
    assert(b.expectedOut == 2000 - c(Irrelevant) - c(LowValue))
    assert(n(col("remark") === Pipeline.Remark.fully) == c(KbHit) + c(Used))
    assert(n(col("remark").isin(Customs.regexRemarks.toSeq: _*)) == c(RegexOnly) + c(NoBrand))
    assert(n(col("remark").isin(Pipeline.Remark.noBrandUniqueRegex,
      Pipeline.Remark.noBrandLongestRegex)) == c(NoBrand))
    assert(n(col("remark") === Pipeline.Remark.parts) == c(Parts))
    assert(n(col("`new/used`") === "used") == c(Used))
    out.unpersist()
  }
}
