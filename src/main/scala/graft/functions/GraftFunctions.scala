package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's native expressions.
  *
  * Two routes, same builders:
  *  - [[GraftFunctions.register]] for an existing session (idempotent) —
  *    used internally by the operators that need the functions;
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    so SQL users get them in every session of a cluster.
  */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { exprs => DotProduct(exprs(0), exprs(1)) },
    "graft_simhash64" -> { exprs => SimHash64(exprs(0)) },
    "graft_mix64" -> { exprs => Mix64Expr(exprs(0)) },
    "graft_dhash64" -> { exprs => DHash64(exprs(0)) },
    "graft_audiofp64" -> { exprs => AudioFp64(exprs(0)) },
    "graft_bytesum" -> { exprs => ByteSum64(exprs(0)) },
    "graft_audiostats" -> { exprs => AudioStats64(exprs(0)) },
    "graft_bytediff" -> { exprs => ByteDiff64(exprs(0), exprs(1)) },
    "graft_intersect_count" -> { exprs => SortedIntersectCount(exprs(0), exprs(1)) },
    "graft_sorted_bucket" -> { exprs => SortedBucket(exprs(0), exprs(1)) },
    "graft_minhash_codes" -> { exprs =>
      MinHashCodes(exprs(0), numHashes = exprs(1).eval().asInstanceOf[Int])
    },
    "graft_minhash_sketch" -> { exprs =>
      MinHashSketch(exprs(0), numHashes = exprs(1).eval().asInstanceOf[Int])
        .toAggregateExpression()
    },
    "graft_mg_items" -> { exprs =>
      MisraGriesSketch(exprs(0), capacity = exprs(1).eval().asInstanceOf[Int])
        .toAggregateExpression()
    },
    "graft_srp_codes" -> { exprs =>
      SrpCodes(exprs(0),
        planes = exprs(1).eval().asInstanceOf[Int],
        bands = exprs(2).eval().asInstanceOf[Int],
        seed = exprs(3).eval().asInstanceOf[Int])
    },
    "graft_feature_hash" -> { exprs =>
      FeatureHash(exprs(0), dims = exprs(1).eval().asInstanceOf[Int])
    },
    "graft_chunk_hashes" -> { exprs =>
      ChunkHashes(exprs(0), nChunks = exprs(1).eval().asInstanceOf[Int])
    },
    "graft_bitmap" -> { exprs =>
      BitmapFromPositions(exprs(0), nWords = exprs(1).eval().asInstanceOf[Int])
    },
    "graft_bitmap_and_count" -> { exprs => BitmapAndCount(exprs(0), exprs(1)) },
    "graft_quantize_i8" -> { exprs => QuantizeI8(exprs(0)) },
    "graft_jl_project" -> { exprs =>
      // SQL literals arrive as Integer, Long, or Decimal depending on how
      // the user wrote them — widen all integral forms, reject the rest
      def asLong(v: Any, what: String): Long = v match {
        case n: java.lang.Number => n.longValue
        case d: org.apache.spark.sql.types.Decimal =>
          require(d.scale <= 0 || d.toDouble == d.toLong.toDouble,
            s"graft_jl_project: $what must be integral (got $d)")
          d.toLong
        case other => throw new IllegalArgumentException(
          s"graft_jl_project: $what must be an integer literal (got $other)")
      }
      JlProject(exprs(0),
        dimOut = asLong(exprs(1).eval(), "dimOut").toInt,
        seed = asLong(exprs(2).eval(), "seed"))
    },
    "graft_bloom_agg" -> { exprs =>
      BloomSketch(exprs(0),
        bits = exprs(1).eval().asInstanceOf[Int],
        numHashes = exprs(2).eval().asInstanceOf[Int]).toAggregateExpression()
    },
    "graft_bloom_contains" -> { exprs =>
      BloomMightContain(exprs(0), exprs(1),
        bits = exprs(2).eval().asInstanceOf[Int],
        numHashes = exprs(3).eval().asInstanceOf[Int])
    },
    "graft_normalize_text" -> { exprs => NormalizeText(exprs(0)) },
    "graft_pg_assemble" -> { exprs => PgAssemble(exprs(0)) },
    "graft_pg_element_json" -> { exprs =>
      // (type, id, labels, from, to, properties, isEdge, withType,
      //  extraLabel, defaultMode, modes) — the last four are literals
      val modes = exprs(10).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val keys = modes.keyArray()
      val values = modes.valueArray()
      PgElementJson(exprs.take(7),
        withType = exprs(7).eval().asInstanceOf[Boolean],
        extraLabel = Option(exprs(8).eval()).map(_.toString).orNull,
        defaultMode = exprs(9).eval().toString,
        modes = (0 until modes.numElements())
          .map(i => keys.getUTF8String(i).toString -> values.getUTF8String(i).toString).toMap)
    },
    "graft_trigram_best" -> { exprs =>
      import org.apache.spark.sql.catalyst.util.ArrayData
      def strs(a: ArrayData): Seq[String] =
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      val langs = strs(exprs(1).eval().asInstanceOf[ArrayData])
      val profArr = exprs(2).eval().asInstanceOf[ArrayData]
      val profiles = (0 until profArr.numElements())
        .map(i => strs(profArr.getArray(i)))
      TrigramBestLang(exprs(0), langs, profiles)
    })

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // window-rank-filter → bounded-heap top-k (graft.plans.TopKPerKey)
    ext.injectOptimizerRule(spark => new graft.plans.TopKRewrite(spark))
    ext.injectPlannerStrategy(spark => new graft.plans.TopKStrategy(spark))
  }
}
