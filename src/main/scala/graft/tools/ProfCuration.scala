package graft.tools
import org.apache.spark.sql.functions._
import graft.tools.Prof.time
/** Scratch profiler for the curation family (dev utility). */
object ProfCuration {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = Prof.session()
    val docs = graft.Tables.documents(spark, dir)
    docs.count() // warm
    for (_ <- 1 to 3) {
      time("decontaminate (current)") {
        graft.operators.Curation.decontaminate(docs).count() }
      // Variant: no pre-distinct; single groupBy with two count-distincts
      // (Expand doubles pre-shuffle rows but saves one shuffle).
      time("variant: 1-shuffle 2x countDistinct") {
        val sh = docs.select(col("doc_id"),
          explode(graft.operators.Curation.shingleArray(col("text"))).as("shingle"))
        val ev = sh.filter(col("doc_id") % graft.operators.Curation.EvalMod === 0)
          .select(col("shingle")).distinct().withColumn("hit", lit(1))
        sh.filter(col("doc_id") % graft.operators.Curation.EvalMod =!= 0)
          .join(broadcast(ev), Seq("shingle"), "left")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_shingles"),
            countDistinct(when(col("hit").isNotNull, col("shingle"))).as("n_hit"))
          .filter(col("n_hit") > 0).count() }
      // Variant: md5-fold shingles to BIGINT before any shuffle — 10x
      // smaller shuffle payload; md5 is reproducible in DuckDB so the
      // oracle stays exact (collisions, if any, are IDENTICAL both sides).
      time("variant: md5-fold shingle keys") {
        val sh = docs.select(col("doc_id"),
          explode(graft.operators.Curation.shingleArray(col("text"))).as("s"))
          .select(col("doc_id"), expr(
            "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)").as("shingle"))
        val ev = sh.filter(col("doc_id") % graft.operators.Curation.EvalMod === 0)
          .select(col("shingle")).distinct().withColumn("hit", lit(1))
        sh.filter(col("doc_id") % graft.operators.Curation.EvalMod =!= 0)
          .distinct()
          .join(broadcast(ev), Seq("shingle"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
          .filter(col("n_hit") > 0).count() }
      // Variant: distinct keyed as aggregate (same two shuffles, explicit).
      time("variant: agg-distinct then agg") {
        val sh = docs.select(col("doc_id"),
          explode(graft.operators.Curation.shingleArray(col("text"))).as("shingle"))
          .groupBy(col("doc_id"), col("shingle")).agg(lit(1).as("one"))
        val ev = sh.filter(col("doc_id") % graft.operators.Curation.EvalMod === 0)
          .select(col("shingle")).distinct().withColumn("hit", lit(1))
        sh.filter(col("doc_id") % graft.operators.Curation.EvalMod =!= 0)
          .join(broadcast(ev), Seq("shingle"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
          .filter(col("n_hit") > 0).count() }
    }
    spark.stop()
  }
}
