package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.MalformedInputException
import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{DropMalformedMode, FailFastMode, FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.json(lines)` evaluated on the driver, for a batch already
  * held there: the same schema and the same rows, with no Spark job.
  *
  * Both halves are Spark's own code, run as one partition. Inference is
  * `JsonInferSchema.infer`'s per-record loop (`inferField` per line, the
  * parse mode's answer to a malformed line, `compatibleRootType` to merge,
  * `canonicalizeType` last — it is `private[catalyst]`, hence this
  * package). The parse is `DataFrameReader.json`'s `JacksonParser` behind
  * a `FailureSafeParser`. The rows fill a `LocalRelation`, so Column code
  * over the result folds on the driver (`ConvertToLocalRelation`). */
object DriverJson {

  /** The parsed frame of `lines` under `spark`'s session conf. */
  def read(spark: SparkSession, lines: Seq[String]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val schema = infer(lines, options)
      ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
      val actualSchema =
        StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
      val rawParser = new JacksonParser(actualSchema, options, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[String](
        input => rawParser.parse(input, CreateJacksonParser.string, UTF8String.fromString),
        options.parseMode, schema, options.columnNameOfCorruptRecord)
      // the safe parser reuses one result row when the schema has a
      // corrupt-record column: copy each row out
      val rows = lines.iterator.flatMap(parser.parse).map(_.copy()).toVector
      classic.Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    }
  }

  /** The schema `spark.read.json` infers for `lines` (no options). */
  private def infer(lines: Seq[String], options: JSONOptions): StructType = {
    val inference = new JsonInferSchema(options)
    val corrupt = options.columnNameOfCorruptRecord
    val merge = JsonInferSchema.compatibleRootType(corrupt, options.parseMode)
    def malformed(e: Throwable): Option[DataType] = options.parseMode match {
      case PermissiveMode    => Some(StructType(Seq(StructField(corrupt, StringType))))
      case DropMalformedMode => None
      case FailFastMode =>
        throw QueryExecutionErrors.malformedRecordsDetectedInSchemaInferenceError(e, corrupt)
    }
    val factory = options.buildJsonFactory()
    val types = lines.iterator.flatMap { line =>
      try {
        val parser = CreateJacksonParser.utf8String(factory, UTF8String.fromString(line))
        try { parser.nextToken(); Some(inference.inferField(parser)) }
        finally parser.close()
      } catch {
        case e @ (_: RuntimeException | _: JsonProcessingException |
                  _: MalformedInputException | _: CharConversionException) => malformed(e)
      }
    }
    // one partition's reduce, then the driver's fold from the empty struct
    val partition = types.reduceOption(merge).iterator.fold(StructType(Nil): DataType)(merge)
    val root = merge(StructType(Nil), partition)
    inference.canonicalizeType(root, options)
      .collectFirst { case st: StructType => st }
      // canonicalizeType erases every empty struct, the root's too
      .getOrElse(StructType(Nil))
  }
}
