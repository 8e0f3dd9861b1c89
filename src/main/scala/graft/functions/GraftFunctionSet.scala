package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** The ONE definition of graft's SQL-function surface. Two registration
  * sites consume it — the imperative per-session
  * `GraftExpressions.registerFunctions` and the cluster-wide
  * `GraftSparkExtensions` injector — and they had started to drift apart
  * (each carried functions the other lacked); a single builder list makes
  * that structurally impossible. */
object GraftFunctionSet {

  type Builder = Seq[Expression] => Expression
  type Entry = (FunctionIdentifier, ExpressionInfo, Builder)

  private def entry(name: String, cls: Class[_])(b: Builder): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)

  private def literalString(e: Expression, usage: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(s"$usage — got $other")
  }

  private def literalStrings(e: Expression, usage: String): Seq[String] = e match {
    case Literal(arr: org.apache.spark.sql.catalyst.util.ArrayData, _) =>
      arr.toSeq[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString)
    case org.apache.spark.sql.catalyst.expressions.CreateArray(children, _) =>
      children.map(c => literalString(c, usage))
    case other => throw new IllegalArgumentException(s"$usage — got $other")
  }

  private def literalInt(e: Expression, usage: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) =>
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"$usage — $v out of int range")
      v.toInt
    case other => throw new IllegalArgumentException(s"$usage — got $other")
  }

  /** The two names of [[BoundedK]]; the name fixes the direction. */
  private def boundedK(name: String, value: String, descending: Boolean): Entry =
    entry(name, classOf[BoundedK]) {
      case Seq(v, id, kE) =>
        BoundedK(v, id, literalInt(kE, s"$name: k must be an int literal"), descending)
          .toAggregateExpression()
      case other => throw new IllegalArgumentException(
        s"$name($value double|bigint, id bigint, k) — got ${other.length} args")
    }

  def all: Seq[Entry] = Seq(
    entry("minhash_sig", classOf[MinHashSig]) { args =>
      val n = args match {
        case Seq(_, nE) => literalInt(nE, "minhash_sig: numHashes must be an int literal")
        case Seq(_)     => 16
        case other => throw new IllegalArgumentException(
          s"minhash_sig(array<bigint>[, numHashes]) — got ${other.length} args")
      }
      require(n > 0 && n <= graft.llm.TextOps.MinHashA.length,
        s"numHashes must be in 1..${graft.llm.TextOps.MinHashA.length}")
      MinHashSig(args.head,
        graft.llm.TextOps.MinHashA.take(n).toSeq,
        graft.llm.TextOps.MinHashB.take(n).toSeq,
        graft.llm.TextOps.MinHashP)
    },
    entry("hash60_array", classOf[Hash60Array]) { args =>
      require(args.length == 1, "hash60_array(array<string>)")
      Hash60Array(args.head)
    },
    entry("lang_hits", classOf[LangHits]) { args =>
      require(args.length == 1, "lang_hits(array<string>)")
      LangHits(args.head)
    },
    entry("cosine_sim", classOf[CosineSim]) { args =>
      require(args.length == 2, "cosine_sim(array<float|double>, array<float|double>)")
      CosineSim(args.head, args(1))
    },
    entry("kmin_k", classOf[KMinK]) {
      case Seq(v, kE) => KMinK(v, literalInt(kE, "kmin_k: k must be an int literal"))
        .toAggregateExpression()
      case other => throw new IllegalArgumentException(
        s"kmin_k(bigint, k) — got ${other.length} args")
    },
    boundedK("top_k_by", "score", descending = true),
    boundedK("min_k_by", "key", descending = false),
    entry("bpe_pieces", classOf[BpePieces]) { args =>
      args match {
        case Seq(child, l, r) =>
          val ls = literalStrings(l, "bpe_pieces rule arrays must be string literals")
          val rs = literalStrings(r, "bpe_pieces rule arrays must be string literals")
          require(ls.length == rs.length, "bpe_pieces: lhs/rhs length mismatch")
          BpePieces(child, ls.zip(rs), perWord = true)
        case other => throw new IllegalArgumentException(
          s"bpe_pieces(words, lhs[], rhs[]) — got ${other.length} args")
      }
    },
    entry("lsh_bucket", classOf[LshBucket]) { args =>
      require(args.length == 3, "lsh_bucket(embedding, numPlanes, dim)")
      val planes = literalInt(args(1), "lsh_bucket: numPlanes must be an int literal")
      val dim = literalInt(args(2), "lsh_bucket: dim must be an int literal")
      LshBucket(args.head, graft.llm.Similarity.planes(planes, dim).map(_.toSeq).toSeq)
    },
    entry("shingle_hash60", classOf[ShingleHash60]) { args =>
      args match {
        case Seq(tokens, nE) =>
          ShingleHash60(tokens, literalInt(nE, "shingle_hash60: n must be an int literal"))
        case Seq(tokens, nE, modeE) =>
          ShingleHash60(tokens,
            literalInt(nE, "shingle_hash60: n must be an int literal"),
            literalString(modeE, "shingle_hash60: mode must be a string literal"))
        case other => throw new IllegalArgumentException(
          s"shingle_hash60(tokens array<string>, n[, mode]) — got ${other.length} args")
      }
    },
    entry("simhash32", classOf[SimHash32]) { args =>
      require(args.length == 1, "simhash32(array<bigint>)")
      SimHash32(args.head)
    })
}
