package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Graph

/** Full-cycle invariant: table → triples → PG → JSONL → parsed back — the
  * whole reference pipeline composed end to end, with the parsed output
  * reconstructing the PG structure exactly.
  */
class RoundTripSpec extends SparkSpec {
  import spark.implicits._

  test("tabmap → PG → JSONL round-trips structure and values") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val triples = Triples.chain(
      Triples.nodes(nation, Triples.wrap(col("n_nationkey"), "nation:"),
        Seq(Prop.column("n_name", "hasName"), Prop.tpe("Nation"))),
      Triples.edges(nation, "inRegion",
        Triples.wrap(col("n_nationkey"), "nation:"),
        Triples.wrap(col("n_regionkey"), "region:"),
        props = Seq(Prop("weight", lit(0.75)))))
    val pg = PgGraph.toPg(triples)
    val lines = PgGraph.toJsonl(pg).as[String].collect()
    assert(lines.length === pg.count())

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = lines.map(mapper.readTree)
    val nodes = parsed.filter(_.get("type").asText() == Graph.NodeType)
    val edges = parsed.filter(_.get("type").asText() == Graph.EdgeType)
    assert(nodes.length === 25 && edges.length === 25)

    nodes.foreach { n =>
      assert(n.get("labels").get(0).asText() === "Nation")
      assert(n.get("properties").get("hasName").get(0).isTextual) // unserialised string
      assert(!n.has("from") && !n.has("to"))
    }
    edges.foreach { e =>
      assert(e.get("labels").get(0).asText() === "inRegion")
      assert(e.get("from").asText().startsWith("nation:"))
      assert(e.get("to").asText().startsWith("region:"))
      assert(e.get("properties").get("weight").get(0).asDouble() === 0.75)
      // edge id is the auto composite of type and endpoints
      assert(e.get("id").asText() ===
        s"inRegion:${e.get("from").asText()}-${e.get("to").asText()}")
    }
    // and the validator agrees the graph is loadable
    assert(PgGraph.validate(pg).count() === 0)
  }

  test("JSONL reader round-trips the written graph") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val triples = Triples.nodes(nation, Triples.wrap(col("n_nationkey"), "nation:"),
      Seq(Prop.column("n_name", "hasName"), Prop.column("n_regionkey", "region"),
        Prop.tpe("Nation")))
    val pg = PgGraph.toPg(triples)
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/out"
    PgGraph.toJsonl(pg).write.text(dir)

    val back = PgGraph.fromJsonl(spark, dir)
    assert(back.count() === 25)
    val row = back.where(col("id") === "nation:0").collect()(0)
    assert(row.getAs[String]("type") === Graph.NodeType)
    assert(row.getAs[scala.collection.Seq[String]]("labels") === Seq("Nation"))
    val props = row.getAs[Map[String, scala.collection.Seq[String]]]("properties")
    assert(props("hasName").head === "\"NATION_0\"") // JSON text, as toPg keeps it
    assert(props("region").head === "0")
    assert(row.isNullAt(row.fieldIndex("from")))
  }

  test("JSONL written from the read-back graph is byte-identical") {
    val nation = (0 until 25).map(k => (k, s"NATION_$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val triples = Triples.chain(
      Triples.nodes(nation, Triples.wrap(col("n_nationkey"), "nation:"),
        Seq(Prop.column("n_name", "hasName"), Prop.column("n_regionkey", "region"),
          Prop.tpe("Nation"))),
      Triples.edges(nation, "inRegion",
        Triples.wrap(col("n_nationkey"), "nation:"),
        Triples.wrap(col("n_regionkey"), "region:"),
        props = Seq(Prop.column("n_name", "nationName"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/out"
    PgGraph.writeJsonl(PgGraph.toPg(triples), dir)
    val written = spark.read.text(dir).as[String].collect().sorted
    assert(written.length === 50)
    assert(PgGraph.toJsonl(PgGraph.fromJsonl(spark, dir)).as[String].collect().sorted === written)
  }

  test("compressed JSONL round-trips through every codec (reference TODO)") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val pg = PgGraph.toPg(Triples.nodes(nation,
      Triples.wrap(col("n_nationkey"), "nation:"),
      Seq(Prop.column("n_name", "hasName"), Prop.tpe("Nation"))))
    val plain = PgGraph.toJsonl(pg).as[String].collect().sorted
    for ((codec, ext) <- Seq("gzip" -> ".gz", "bzip2" -> ".bz2", "deflate" -> ".deflate")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-jsonl-$codec")
        .toString + "/out"
      PgGraph.writeJsonl(pg, dir, codec = Some(codec))
      // the files really are compressed (extension is how readers detect it)
      val parts = new java.io.File(dir).listFiles.filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.getName.endsWith(ext)), codec)
      // the text source auto-decompresses to the identical line set...
      assert(spark.read.text(dir).as[String].collect().sorted === plain, codec)
      // ...and the structured reader parses the compressed graph directly
      assert(PgGraph.fromJsonl(spark, dir).count() === 25, codec)
    }
  }

  test("typed function facade works end to end") {
    import graft.functions.api._
    enable(spark)
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(graft_dot(col("a"), col("b"))).collect()(0).getDouble(0) === 11.0)
    val toks = Seq(Seq("x", "y")).toDF("t")
    assert(toks.select(graft_simhash64(col("t"))).collect()(0).getLong(0) !== 0L)
  }
}
