package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus replicator for scale-stress runs: writes an N× copy of a test
  * star-schema directory with referential integrity preserved, so the
  * bench suite can be timed at a scale factor the driver does not ship
  * (e.g. sf0.1 → ~sf1). Also a library utility in its own right — the
  * standard way to soak-test a pipeline before pointing it at the real
  * 100 TB estate is to replicate a sample with disjoint key ranges.
  *
  * Replication rules (mirroring how TPC-style generators scale):
  *  - `region`/`nation` are fixed dimensions at any SF — copied as-is.
  *  - Every other table unions N copies with all key columns offset by
  *    `copy * Stride` (same stride everywhere, so orders still join
  *    customers, lineitems still join orders/parts/suppliers, events
  *    keep one user's stream shape per replicated user).
  *  - `documents.text` is token-salted per copy (every whitespace token
  *    gets a `_i` suffix): copy vocabularies are DISJOINT, so replication
  *    adds no artificial cross-copy near-duplicate pairs — the dup RATE
  *    stays that of the source corpus while the population scales. Dates
  *    and timestamps keep the source range (more rows per time bucket,
  *    the realistic way volume grows).
  *  - `embeddings.embedding` gets deterministic per-copy jitter (±2.5%
  *    per dimension, keyed on (vec_id, copy, dim)) so copies are near
  *    but not exactly the original — ANN/dedup candidate structure
  *    scales instead of collapsing onto N-way exact ties.
  */
object ScaleData {

  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    /** N offset copies; `keys` shift by copy*Stride, `tweak` runs per copy. */
    def replicate(df: DataFrame, keys: Seq[String],
                  tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until n).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * Stride)))
        tweak(shifted, i)
      }.reduce(_ unionByName _)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")
    write(replicate(read("documents"), Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))), " "))
        .withColumn("n_chars", length(col("text")))), "documents")
    write(replicate(read("embeddings"), Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, dim) =>
          (x.cast("double") * (lit(1.0) +
            (pmod(xxhash64(col("vec_id"), lit(i), dim), lit(1000)).cast("double")
              / 1000.0 - 0.5) * 0.05)).cast("float")))), "embeddings")

    spark.stop()
  }
}
