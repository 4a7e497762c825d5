package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.model.Graph

/** The native PG assembler and element writer against the Column
  * formulation they replace ([[PgColumnOracle]]), byte for byte, on a
  * seeded frame built to hit every quoting and null rule: quotes,
  * backslashes, every control character and non-ASCII text; empty-string
  * ids, labels and keys; null values; missing and empty edge endpoints;
  * multi-valued keys under every Cypher multi-value mode.
  *
  * `toPg`'s property map keeps its keys in order of first appearance, as
  * the Column formulation did; both run here over a one-partition input,
  * so collect_list order — and with it that key order — is the same.
  */
class PgNativeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  private val alphabet: IndexedSeq[String] =
    (0 until 0x20).map(_.toChar.toString) ++
      Seq("\"", "\\", "/", "'", " ", "\u007f", "é", "ß", "中", " ", "😀") ++
      Seq("a", "b", "c", "d", "e")

  private def triples(seed: Int, nullValues: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def text(max: Int): String =
      Seq.fill(rnd.nextInt(max + 1))(alphabet(rnd.nextInt(alphabet.size))).mkString
    def value(): String =
      if (nullValues && rnd.nextInt(12) == 0) null
      else if (rnd.nextInt(3) == 0) "\"" + text(4).replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      else rnd.nextInt(1000).toString
    val keys = Seq("name", "", "k\"q", "k\\b", "k\u0001", "ключ", "z", "a", "multi", Graph.DeleteKey)
    val rows = (0 until 70).flatMap { i =>
      val edge = i % 2 == 1
      val id = if (i == 0) "" else s"${if (edge) "e" else "n"}$i${text(2)}"
      val labels = Seq.fill(rnd.nextInt(4))(
        Row(id, Graph.TypeKey, if (rnd.nextInt(6) == 0) "" else text(3)))
      val endpoints = if (!edge) Seq.empty else Seq(Graph.FromKey, Graph.ToKey).flatMap { k =>
        rnd.nextInt(8) match {
          case 0 => Seq.empty // missing endpoint
          case 1 => Seq(Row(id, k, ""))
          case 2 => Seq(Row(id, k, text(3)), Row(id, k, "second"))
          case _ => Seq(Row(id, k, s"n${rnd.nextInt(70)}${text(2)}"))
        }
      }
      val props = Seq.fill(rnd.nextInt(7))(Row(id, keys(rnd.nextInt(keys.size)), value()))
      rnd.shuffle(labels ++ endpoints ++ props)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      if (nullValues) schema
      else StructType(schema.fields.take(2) :+ StructField("value", StringType, nullable = false)))
  }

  private def rows(pg: DataFrame): Seq[Row] =
    pg.select(col("type"), col("id"), col("labels"), col("from"), col("to"),
        map_keys(col("properties")), map_values(col("properties")))
      .collect().toSeq.sortBy(_.getString(1))

  test("toPg equals the Column formulation: values, key order and schema") {
    for (seed <- Seq(1, 2, 3); nullValues <- Seq(true, false)) {
      val t = triples(seed, nullValues)
      val (expected, actual) = (PgColumnOracle.toPg(t), PgGraph.toPg(t))
      assert(actual.schema === expected.schema, s"seed $seed")
      assert(rows(actual) === rows(expected), s"seed $seed")
    }
  }

  test("toJsonl equals the Column formulation byte for byte, converters included") {
    val conv: Map[String, Column => Column] = Map("name" -> (v => concat(lit("<"), v, lit(">"))))
    for (seed <- Seq(1, 2, 3); converters <- Seq(Map.empty[String, Column => Column], conv)) {
      val t = triples(seed, nullValues = true)
      def lines(df: DataFrame) = df.collect().map(r => Option(r.getString(0))).toSeq.sorted
      val expected = lines(PgColumnOracle.toJsonl(PgColumnOracle.toPg(t), converters))
      assert(lines(PgGraph.toJsonl(PgGraph.toPg(t), converters)) === expected, s"seed $seed")
      assert(expected.exists(_.isEmpty) && expected.exists(_.exists(_.contains("\\u00"))),
        "fixture no longer writes null lines or escapes")
    }
  }

  test("NeoCypher.statements equals the Column formulation under every multi-value mode") {
    import NeoCypher._
    val pg = PgColumnOracle.toPg(triples(4, nullValues = true)).coalesce(1).cache()
    val singleSafe = pg.withColumn("properties",
      map_filter(col("properties"), (_, vs) => size(vs) <= 1))
    val configs = Seq(
      pg -> PropertyConfig(),
      pg -> PropertyConfig(default = Multiple),
      pg -> PropertyConfig(modes = Map("multi" -> Multiple, "name" -> Auto), default = Auto),
      singleSafe -> PropertyConfig(default = Single),
      singleSafe -> PropertyConfig(modes = Map("z" -> Single, "a" -> Multiple)))
    for ((frame, config) <- configs; kind <- Seq(Graph.NodeType, Graph.EdgeType); batch <- Seq(1, 7)) {
      val expected = PgColumnOracle.statements(frame, kind, batch, config).collect().toSeq
      assert(NeoCypher.statements(frame, kind, batch, config).collect().toSeq === expected,
        s"$kind $config batch $batch")
    }
    // native toPg feeding the native writer gives the same elements
    val t = triples(4, nullValues = true)
    for (kind <- Seq(Graph.NodeType, Graph.EdgeType)) {
      val expected = PgColumnOracle.statements(PgColumnOracle.toPg(t), kind, 1, PropertyConfig())
        .collect().sorted.toSeq
      assert(NeoCypher.statements(PgGraph.toPg(t), kind, 1).collect().sorted.toSeq === expected)
    }
    // Single on a multi-valued key: the same error, message included
    def error(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).find(_.contains("multiple values")).getOrElse(e.toString)
    }
    val single = PropertyConfig(modes = Map("multi" -> Single))
    val multiValued = pg.where(array_contains(map_keys(col("properties")), "multi") &&
      size(element_at(col("properties"), "multi")) > 1)
    assert(multiValued.count() > 0, "fixture has no multi-valued key")
    val kinds = multiValued.select("type").distinct().collect().map(_.getString(0))
    for (kind <- kinds.toSeq)
      assert(error(NeoCypher.statements(pg, kind, 7, single).collect()) ===
        error(PgColumnOracle.statements(pg, kind, 7, single).collect()))
    pg.unpersist()
  }

  test("the PG path runs no lambda: no higher-order function in its optimised plans") {
    def lambdas(df: Dataset[_]): Seq[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case h: HigherOrderFunction => h.prettyName
      }))
    val src = spark.range(5).select(col("id").cast("string").as("k"),
      (col("id") * 2).cast("string").as("v"), lit("n1").as("to"))
    val nodes = Triples.nodes(src, col("k"), Seq(Prop.column("v"), Prop.tpe("T")))
    val edges = Triples.edges(src, "rel", col("k"), col("to"), Seq(Prop.column("v")))
    val pg = PgGraph.toPg(nodes.union(edges))
    val plans = Seq(
      "Triples.nodes" -> nodes, "Triples.edges" -> edges, "toPg" -> pg,
      "toJsonl" -> PgGraph.toJsonl(pg),
      "statements(node)" -> NeoCypher.statements(pg, Graph.NodeType),
      "statements(edge)" -> NeoCypher.statements(pg, Graph.EdgeType))
    for ((name, df) <- plans) assert(lambdas(df) === Seq.empty, name)
    // the tripwire fires on the formulation it guards against
    assert(lambdas(PgColumnOracle.toPg(nodes)).nonEmpty)
  }
}
