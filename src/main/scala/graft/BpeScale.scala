package graft

import org.apache.spark.sql.functions._

/** Production-vocabulary BPE demonstration: one
  * [[graft.operators.BpeVocab.train]] run at `SPARK_GRAFT_BPE_MERGES`
  * (default 32768) with the auto-tuned batch size, over a
  * vocabulary-rich synthetic word table — the harness corpora's ~50
  * word types exhaust after a few hundred merges, so the demo derives
  * its words from the corpus's md5 hex stream (16-char alphabet,
  * hundreds of thousands of distinct types): what is being
  * demonstrated is the TRAINER at production merge count — rounds ≈
  * numMerges / batchSize, flat per-round cost, constant plan depth —
  * not a linguistic tokenizer.
  *
  * Output: one JSON line `{"metric":"bpe_scale", merges, rounds,
  * batch, wall_s, word_types}` (stdout last line + durable copy at
  * SPARK_GRAFT_BPE_OUT).
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    val merges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "32768").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one md5-derived "word" per corpus token occurrence: rich pair
    // statistics over a 16-symbol alphabet, deterministic. Hex digits
    // translate to letters because the trainer's alphabet contract is
    // ^[a-z]+$ (digits mark out-of-alphabet passthrough tokens).
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(coalesce(col("text"), lit("")),
        "\\s+")).as("w"))
      .select(translate(md5(concat(col("w"), lit(":"), col("doc_id"))),
        "0123456789", "qrstuvwxyz").as("text"))
    val types = words.distinct().count()
    val t0 = System.nanoTime()
    val (vocab, rounds) = graft.operators.BpeVocab.trainWithRounds(
      spark, words, "text", merges, batchSize = 0)
    val learned = vocab.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val batch = math.min(1024, math.max(16, merges / 64))
    val line = f"""{"metric":"bpe_scale","merges":$learned,"requested":$merges,"rounds":$rounds,"batch":$batch,"wall_s":${BigDecimal(wall).setScale(1, BigDecimal.RoundingMode.HALF_UP)},"word_types":$types,"sf":"$sfDir","cpus":$cpus}"""
    println(line)
    scala.util.Try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BPE_OUT", "target/bpe_scale.json")),
        line.getBytes("UTF-8"))
    }.failed.foreach(t => System.err.println(s"bpescale: durable copy failed: $t"))
    spark.stop()
  }
}
