package pipebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The YAML each workload runs (its inputs come from pipebench/gen.py)
  * and the helpers of the output checks, which read the files the pipeline
  * wrote with plain Spark SQL and call nothing under test. */
object Workloads {

  val Names: Seq[String] = Seq("curation_docs", "tabular_etl", "incremental_batches")

  /** Generator facts, the truth the checks compare against. */
  type Facts = Map[String, Long]

  // ---------------------------------------------------------------- helpers

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def dirFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirFiles).sum).getOrElse(0L)
    else 1L

  /** Data files (not `_SUCCESS` or `.crc`) directly under `dir`. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)

  // ------------------------------------------------------------ curation

  def curationYaml(dir: String): String =
    s"""process_name: bench_curation
       |src_path: $dir/src
       |dst_root: $dir/out
       |validation:
       |  text_not_null:
       |    - text
       |    - is_not_null
       |custom_transformations:
       |  quality_filter:
       |    text_col: text
       |    min_tokens: 10
       |    max_punct_ratio: 0.3
       |  clean_text:
       |    text_col: text
       |  fuzzy_dedup:
       |    id_col: doc_id
       |    text_col: text
       |    shingle_k: 3
       |    num_hashes: 64
       |    bands: 16
       |  decontaminate:
       |    id_col: doc_id
       |    text_col: text
       |    eval_path: $dir/eval
       |    threshold: 0.8
       |  lang_id:
       |    text_col: text
       |  text_stats:
       |    text_col: text
       |  pack_sequences:
       |    id_col: doc_id
       |    token_col: n_tokens
       |    partition_col: lang_pred
       |    budget: 4096
       |select_cols: "*"
       |""".stripMargin

  // ------------------------------------------------------------- tabular

  /** Batch `b`'s staged files: `part-NNNNN` with NNNNN / `filesPerBatch`
    * == b (see pipebench/gen.py). */
  def batchFiles(dir: String, b: Int, filesPerBatch: Int): Seq[File] =
    dataFiles(new File(s"$dir/staging")).filter { f =>
      val part = f.getName.stripPrefix("part-").takeWhile(_.isDigit)
      part.nonEmpty && part.toInt / filesPerBatch == b
    }

  private val RuleYaml =
    """validation:
      |  key_not_null:
      |    - cust_key
      |    - is_not_null
      |  amount_non_negative:
      |    - amount
      |    - ge
      |    - 0.0
      |""".stripMargin

  def tabularYaml(dir: String): String =
    s"""process_name: bench_tabular
       |src_path: $dir/src
       |dst_root: $dir/out
       |$RuleYaml
       |transformations:
       |  dedupe_cols:
       |    - id
       |  unnest_cols:
       |    - info
       |  filter_exprs:
       |    score_at_most_95:
       |      - score
       |      - le
       |      - 95
       |  fill_map:
       |    discount: 0.0
       |  recast_map:
       |    qty_str: Int64
       |  clip_map:
       |    discount:
       |      - 0.0
       |      - 0.5
       |  new_col_map:
       |    amount_mean:
       |      fn_name: mean
       |      fn_kwargs:
       |        col: amount
       |    amount_cum:
       |      fn_name: cum_sum
       |      fn_kwargs:
       |        col: amount
       |        order_by:
       |          - ts
       |    amount_roll:
       |      fn_name: rolling_mean
       |      fn_kwargs:
       |        col: amount
       |        order_by:
       |          - ts
       |        window_size: 5
       |    amount_rank:
       |      fn_name: rank
       |      fn_kwargs:
       |        col: amount
       |        order_by:
       |          - amount
       |  rename_map:
       |    name: customer_name
       |  nest_cols:
       |    geo:
       |      - city
       |      - region
       |  drop_cols:
       |    - note
       |select_cols: "*"
       |""".stripMargin

  def batchesYaml(dir: String): String =
    s"""process_name: bench_batches
       |src_path: $dir/src
       |dst_root: $dir/out
       |incremental: true
       |$RuleYaml
       |transformations:
       |  unnest_cols:
       |    - info
       |  fill_map:
       |    discount: 0.0
       |  recast_map:
       |    qty_str: Int64
       |  clip_map:
       |    discount:
       |      - 0.0
       |      - 0.5
       |  new_col_map:
       |    net:
       |      fn_name: mul_cols
       |      fn_kwargs:
       |        cols:
       |          - amount
       |          - discount
       |    name_len:
       |      fn_name: str_len_chars
       |      fn_kwargs:
       |        col: name
       |    city_upper:
       |      fn_name: str_to_uppercase
       |      fn_kwargs:
       |        col: city
       |  rename_map:
       |    name: customer_name
       |  nest_cols:
       |    geo:
       |      - city
       |      - region
       |  drop_cols:
       |    - note
       |select_cols: "*"
       |""".stripMargin

  // --------------------------------------------------------------- checks

  /** Order-insensitive checksum of a frame's user columns (lineage `sys_col_*`
    * columns carry the run's guid and clock, so they are left out). Doubles
    * enter at 10 significant digits, so a change in floating-point summation
    * order does not read as a different output. */
  def checksum(df: DataFrame): String = {
    val names = df.columns.filterNot(_.startsWith("sys_col_")).sorted
    val parts = names.map { n =>
      val c = col(s"`$n`")
      df.schema(n).dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case _: StructType | _: ArrayType | _: MapType => to_json(c)
        case _ => c.cast(StringType)
      }
    }.map(p => coalesce(p, lit("\u0000")))
    val r = df.select(xxhash64(parts: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${names.mkString(",")}|${r.getLong(0)}|${Option(r.getDecimal(1)).getOrElse("0")}"
  }

  def readOrEmpty(spark: SparkSession, path: String): Option[DataFrame] =
    if (dataFiles(new File(path)).isEmpty) None else Some(spark.read.parquet(path))
}
