package graft.functions.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}

/** One-stop SQL surface for the engine's custom Catalyst pieces.
  *
  * [[GraftExtensions]] — applied by `graft.GraftSession.local`, or set as
  * `spark.sql.extensions=graft.functions.expressions.GraftExtensions` on a
  * cluster — injects every codegen'd expression as a SQL function plus the
  * [[graft.plans.TopKPerGroupStrategy]] planner rule and the
  * [[graft.plans.RankFilterToTopK]] optimizer rule, so `spark.sql(...)`
  * users get the same operators as the Column API. For an already-running
  * session (extensions are builder-time only), [[GraftFunctionRegistry
  * .registerTemp]] installs the same functions on the live registry.
  */
object GraftFunctionRegistry {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    // range-check, don't truncate: a bigint SQL literal like 4294967297
    // would silently become 1 under toInt
    case Literal(v: Long, LongType)
        if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
    case Literal(_: Long, LongType) => throw new IllegalArgumentException(
      s"$fn: $arg out of Int range")
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal")
  }

  /** Arity guard: raw exprs(i) indexing would surface an opaque
    * IndexOutOfBoundsException during function resolution. */
  private def arity(fn: String, exprs: Seq[Expression], min: Int,
      max: Int): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"$fn expects $min${if (max > min) s"..$max" else ""} arguments," +
          s" got ${exprs.length}")

  /** name -> builder for every SQL-exposed expression. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // blake2b(str|bin [, outLen]): RFC 7693 hex digest
    "blake2b" -> { exprs =>
      arity("blake2b", exprs, 1, 2)
      val in = Cast(exprs.head, BinaryType)
      if (exprs.length >= 2) Blake2b(in, litInt(exprs(1), "blake2b", "outLen"))
      else Blake2b(in)
    },
    // md5_prefix60(str|bin): first 15 md5 hex chars as non-negative BIGINT
    "md5_prefix60" -> { exprs =>
      arity("md5_prefix60", exprs, 1, 1)
      Md5Prefix60(Cast(exprs.head, BinaryType))
    },
    // shingle_hashes(text, n): distinct 60-bit hashes of word n-grams
    "shingle_hashes" -> { exprs =>
      arity("shingle_hashes", exprs, 2, 2)
      ShingleHashesExpr(exprs.head, litInt(exprs(1), "shingle_hashes", "n"))
    },
    // shingle_hashes_all(text, n): ALL shingle hashes in position order
    "shingle_hashes_all" -> { exprs =>
      arity("shingle_hashes_all", exprs, 2, 2)
      ShingleHashesAllExpr(exprs.head,
        litInt(exprs(1), "shingle_hashes_all", "n"))
    },
    // minhash_sig(shingle_hashes [, k [, seed]]): single-pass k-minima
    // signature from the deterministic universal-hash family
    "minhash_sig" -> { exprs =>
      arity("minhash_sig", exprs, 1, 3)
      val k = if (exprs.length >= 2) litInt(exprs(1), "minhash_sig", "k") else 64
      val seed = if (exprs.length >= 3) litInt(exprs(2), "minhash_sig", "seed").toLong else 42L
      val params = graft.functions.TextFunctions.minhashParams(k, seed)
      MinhashSig(exprs.head, params.map(_._1), params.map(_._2))
    },
    // dot_double(a, b): allocation-free dot product of double arrays
    "dot_double" -> { exprs =>
      arity("dot_double", exprs, 2, 2)
      DotDoubleExpr(exprs.head, exprs(1))
    },
    // float32_le(bin, offset): IEEE-754 float32 at a little-endian offset
    "float32_le" -> { exprs =>
      arity("float32_le", exprs, 2, 2)
      Float32LEExpr(exprs.head, litInt(exprs(1), "float32_le", "offset"))
    },
    // dicom_tags(bin): the 26 DCMSUM summary fields as map<string,string>
    "dicom_tags" -> { exprs =>
      arity("dicom_tags", exprs, 1, 1)
      DicomTagsExpr(exprs.head)
    },
    // simhash32(text): fused tokenize -> md5-prefix hash -> bit-vote
    "simhash32" -> { exprs =>
      arity("simhash32", exprs, 1, 1)
      SimHash32Expr(exprs.head)
    },
    // simhash64(text): the 64-bit scale-path fingerprint (q251/q252)
    "simhash64" -> { exprs =>
      arity("simhash64", exprs, 1, 1)
      SimHash64Expr(exprs.head)
    },
    // repetition_stats(text): per-document token/bigram repetition counts
    "repetition_stats" -> { exprs =>
      arity("repetition_stats", exprs, 1, 1)
      RepetitionStatsExpr(exprs.head)
    }
  )

  /** Install on a LIVE session (temp-function registry; extensions can only
    * be applied at builder time). */
  def registerTemp(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctionRegistry.all.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    e.injectOptimizerRule(_ => graft.plans.RankFilterToTopK)
  }
}
