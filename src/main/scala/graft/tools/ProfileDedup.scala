package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dev-only: compare jaccard-dedup implementation shapes. */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config(graft.util.Tuning.sqlDefaults.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.util.Tables(spark, sfDir, "documents")
    def t[A](label: String)(f: => A): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s -> $r")
    }

    // codegen-friendly inverted index: posexplode tokens, window lead to
    // form 3-grams, distinct postings, count via window.
    def invWindow = {
      val w = Window.partitionBy("doc").orderBy("pos")
      val toks = docs
        .select(col("doc_id").as("doc"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
        .filter(col("t") =!= "")
      val sh3 = toks
        .withColumn("t1", lead(col("t"), 1).over(w))
        .withColumn("t2", lead(col("t"), 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("doc"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("s"))
        .distinct()
      sh3.withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc")).cast("int"))
    }

    def aggPairs(pairs: org.apache.spark.sql.DataFrame) = pairs
      .groupBy("i", "j", "ni", "nj").agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("ni") + col("nj") - col("common")))
      .filter(col("jaccard") >= 0.8)
      .select(col("i"), col("j"),
        (floor(col("jaccard") * 1e6).cast("double") / 1e6).as("jaccard"))

    for (r <- 1 to 2) {
      val iw = invWindow
      t("invWindow")(iw.count())
      // V1: window index + plain self-join on string s
      val v1pairs = iw.as("a").join(iw.as("b"),
          col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("i"), col("b.doc").as("j"),
          col("a.n_sh").as("ni"), col("b.n_sh").as("nj"))
      t("V1_join_str")(aggPairs(v1pairs).count())
      // V3: window index + join on xxhash64(s)
      val ih = iw.withColumn("h", xxhash64(col("s"))).drop("s")
      val v3pairs = ih.as("a").join(ih.as("b"),
          col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("i"), col("b.doc").as("j"),
          col("a.n_sh").as("ni"), col("b.n_sh").as("nj"))
      t("V3_join_hash")(aggPairs(v3pairs).count())
      t("old_full")(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count())
    }
    spark.stop()
  }
}
