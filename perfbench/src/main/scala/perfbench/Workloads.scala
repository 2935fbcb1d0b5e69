package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.jobs.Jobs
import graft.operators.{Dedup, Similarity}
import graft.ops.{EtlOps, MatStrategy, Materialize}
import graft.sources.Sinks

/** A workload: the jobs one pass calls through `Jobs.all`, the tables
  * those jobs commit, and a traced pass that calls the same library
  * functions as the job bodies, in the same order, with a span around each
  * call. Its inputs are generated by run.py (gen.py). */
trait Workload {
  def name: String
  def jobs: Seq[String]
  /** Each committed table with the job that commits it. */
  def outputs: Seq[(String, String)]
  /** Warm-up passes in set-up: a fixed count, so set-up time follows the
    * program's cold start. */
  def warmupPasses: Int
  /** The wall of a warm pass on a 4-core host; a run makes
    * ceil(seconds / passSeconds) timed passes, a count that does not hinge
    * on how fast one pass happened to be. */
  def passSeconds: Double
  /** Untimed set-up after generation (stream: the bootstrapped signature table). */
  def bootstrap(spark: SparkSession, in: String, work: String): Unit = ()
  /** Untimed per-pass preparation of the pass's output directory. */
  def prepare(spark: SparkSession, work: String, out: String): Unit = ()
  def traced(t: Tracer, spark: SparkSession, in: String, out: String): Unit
  /** DuckDB oracle queries, by output table, that the library already has. */
  def oracleSql: Map[String, String] = Map.empty

  def run(spark: SparkSession, in: String, out: String, job: String): Unit =
    Jobs.all(job)(spark, in, out)
}

object Workloads {
  val all: Seq[Workload] = Seq(WarehouseX10, CurationBatch, CurationStream)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  val T0: String = EtlOps.FixedClock

  /** Evaluates a layer's output once and keeps it, so the next layer's
    * span holds only its own work; the rows count as the span's rows_out.
    * The count's jobs are the benchmark's and are attributed to no span. */
  final class Kept(t: Tracer) {
    private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      t.add("rows_out", t.bench(p.count()))
      kept += p
      p
    }
    def release(): Unit = { kept.foreach(_.unpersist(true)); kept.clear() }
  }

  def load(t: Tracer, spark: SparkSession, in: String, table: String): DataFrame =
    t.span("tables", s"Tables.load:$table")(Tables.load(spark, in, table))

  def job(t: Tracer, name: String)(body: Kept => Unit): Unit = {
    val k = new Kept(t)
    try t.span("jobs", name)(body(k)) finally k.release()
  }
}

import Workloads._

object WarehouseX10 extends Workload {
  val warmupPasses = 2
  val passSeconds = 13.0
  val name = "warehouse_x10"
  private val patternA = Seq("region" -> None, "nation" -> None, "customer" -> None,
    "supplier" -> None, "part" -> None, "orders" -> Some("o_orderdate"), "lineitem" -> Some("l_shipdate"))
  val jobs = patternA.map("clean_" + _._1) ++ Seq("merge_user_latest", "bistore_order_master", "dws_customer_region")
  val outputs = (patternA.map("dwd_" + _._1) ++ Seq("dwd_user_latest", "fact_order_master", "dws_customer_region"))
    .zip(jobs)

  private def fmt(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd HH:mm:ss")

  override def oracleSql: Map[String, String] = {
    import graft.queries.Parity
    Map("dwd_lineitem" -> Parity.auditAppendSql, "dwd_user_latest" -> Parity.scdMergeSql,
      "fact_order_master" -> Parity.bistoreMergeSql, "dws_customer_region" -> Parity.denormalizeSql)
  }

  def traced(t: Tracer, spark: SparkSession, in: String, out: String): Unit = {
    patternA.foreach { case (table, dateCol) =>
      job(t, s"clean_$table") { keep =>
        val src = load(t, spark, in, table)
        val latest = t.span("ops", "EtlOps.latestPartition+withAudit") {
          val withPart = dateCol match {
            case Some(c) => src.withColumn("etl_date", date_format(col(c), "yyyyMMdd"))
            case None => src.withColumn("etl_date", lit("20240101"))
          }
          keep(EtlOps.withAudit(EtlOps.latestPartition(withPart, "etl_date"), "dwd", "user1", T0))
        }
        t.span("sources", "Sinks.appendPartitioned")(
          Sinks.appendPartitioned(latest, s"$out/dwd_$table", Seq("etl_date")))
      }
    }
    job(t, "merge_user_latest") { keep =>
      val ev = load(t, spark, in, "events")
      val cutoff = 1705363200000000000L
      val merged = t.span("ops", "EtlOps.dedupLatest+scdMerge") {
        val dwd = EtlOps.withAudit(
          EtlOps.dedupLatest(ev.filter(col("ts") < cutoff), Seq("user_id"),
            Seq(col("ts").desc, col("event_id").desc)), "dwd", "user1", T0)
        val ods = ev.filter(col("ts") >= cutoff)
        keep(EtlOps.scdMerge(ods, dwd, Seq("user_id"), "ts", Seq(col("event_id").desc))
          .withColumn("etl_date", lit("20240116")))
      }
      t.span("sources", "Sinks.overwriteDynamicPartitions")(
        Sinks.overwriteDynamicPartitions(merged, s"$out/dwd_user_latest", Seq("etl_date")))
    }
    job(t, "bistore_order_master") { keep =>
      val orders = load(t, spark, in, "orders")
      val merged = t.span("ops", "EtlOps.latestPartition+keyedSnapshotScan+coalesceMerge") {
        val o = orders.withColumn("etl_date", date_format(col("o_orderdate"), "yyyyMM"))
        val hive = EtlOps.latestPartition(o, "etl_date")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"), col("etl_date"))
        val hbase = EtlOps.keyedSnapshotScan(
            o.withColumn("row_key", concat_ws("_", col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyyMMdd"))),
            "row_key", ".*_2000.*")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        keep(EtlOps.withAudit(EtlOps.coalesceMerge(hive, hbase, "o_orderkey"), "dwd", "user1", T0)
          .withColumn("etl_date", coalesce(col("etl_date"), lit("200108")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"), col("etl_date"),
            col("dwd_insert_user"), fmt(col("dwd_insert_time")).as("dwd_insert_time")))
      }
      t.span("sources", "Sinks.appendPartitioned")(
        Sinks.appendPartitioned(merged, s"$out/fact_order_master", Seq("etl_date")))
    }
    job(t, "dws_customer_region") { keep =>
      val cust = load(t, spark, in, "customer")
      val nat = load(t, spark, in, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val reg = load(t, spark, in, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val denorm = t.span("ops", "EtlOps.denormalize+withAudit") {
        val d = EtlOps.denormalize(cust, Seq(
          (nat, Seq("c_nationkey"), Seq("n_name", "n_regionkey")),
          (reg, Seq("n_regionkey"), Seq("r_name"))))
        keep(EtlOps.withAudit(d, "dws", "user1", T0)
          .withColumn("etl_date", lit("20240101"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("n_name"), col("r_name"),
            col("dws_insert_user"), fmt(col("dws_insert_time")).as("dws_insert_time"),
            col("dws_modify_user"), fmt(col("dws_modify_time")).as("dws_modify_time"),
            col("etl_date")))
      }
      t.span("sources", "Sinks.overwriteAll")(
        Sinks.overwriteAll(denorm, s"$out/dws_customer_region", Seq("etl_date")))
    }
  }
}

object CurationBatch extends Workload {
  val warmupPasses = 1
  val passSeconds = 18.0
  val name = "curation_batch"
  val jobs = Seq("clean_corpus", "screen_batch", "build_ann_index", "encode_pq")
  val outputs = Seq("clean_corpus" -> "clean_corpus", "corpus_sigs" -> "clean_corpus",
    "batch_admitted" -> "screen_batch", "batch_rejects" -> "screen_batch",
    "ann_neighbors" -> "build_ann_index", "pq_codebooks" -> "encode_pq", "pq_codes" -> "encode_pq")

  private def write(t: Tracer, df: DataFrame, path: String): Unit =
    t.span("sources", s"write:${path.split('/').last}")(df.write.mode("overwrite").parquet(path))

  def traced(t: Tracer, spark: SparkSession, in: String, out: String): Unit = {
    import graft.functions.TextFns
    job(t, "clean_corpus") { keep =>
      val docs = load(t, spark, in, "documents")
      val exactDeduped = t.span("operators", "Dedup.exactDedup") {
        val keepers = Dedup.exactDedup(docs, "text", "doc_id").select(col("keeper_id").as("doc_id"))
        keep(docs.join(keepers, Seq("doc_id"), "left_semi"))
      }
      val sigPath = s"$out/corpus_sigs"
      t.span("operators", "Dedup.writeSignatureTable")(
        Dedup.writeSignatureTable(exactDeduped, "text", "doc_id", sigPath, k = 5))
      val pairs = t.span("operators", "Dedup.nearDupPairsFromSigs")(
        keep(Dedup.nearDupPairsFromSigs(spark, sigPath, threshold = 0.5)))
      val clusters = t.span("operators", "Dedup.connectedComponents")(
        keep(Dedup.connectedComponents(pairs, "doc_a", "doc_b")))
      val cleaned = exactDeduped.join(clusters, Seq("doc_id"), "left")
        .where(col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
        .drop("cluster_rep")
      val scored = keep(cleaned
        .withColumn("text", TextFns.scrubPii(col("text")))
        .withColumn("token_cnt", TextFns.tokenCount(col("text")))
        .withColumn("bpe_token_cnt", TextFns.bpeTokenCount(col("text")))
        .where(col("n_chars") >= 50 && col("token_cnt") >= 10)
        .withColumn("split",
          when(TextFns.hash32(col("text")) % 100 < 80, "train")
            .when(TextFns.hash32(col("text")) % 100 < 90, "valid")
            .otherwise("test")))
      t.span("sources", "Sinks.overwriteAll")(
        Sinks.overwriteAll(scored, s"$out/clean_corpus", Seq("split")))
    }
    job(t, "screen_batch") { keep =>
      val corpus = load(t, spark, in, "documents")
      val batch = corpus.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"), expr("substring(text, 11)").as("text"))
        .union(corpus.where(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 9500000L).as("doc_id"), col("text")))
        .union(corpus.where(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 9900000L).as("doc_id"),
            concat(md5(col("text")), md5(concat(col("text"), lit("a")))).as("text")))
      val novelFp = t.span("operators", "Dedup.incrementalDedup")(
        keep(Dedup.incrementalDedup(batch, corpus, "text", "doc_id")
          .select(col("keeper_id").as("doc_id"))))
      val exactPassed = t.span("ops", "Materialize") {
        val m = Materialize(batch.join(novelFp, Seq("doc_id"), "left_semi"), MatStrategy.Default)
        t.add("rows_out", t.bench(m.df.count()))
        m
      }
      try {
        val nearHits = t.span("operators", "Dedup.incrementalNearDup")(
          keep(Dedup.incrementalNearDup(exactPassed.df, corpus, "text", "doc_id", k = 5, threshold = 0.5)))
        val admitted = exactPassed.df.join(
          nearHits.select(col("batch_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        write(t, admitted, s"$out/batch_admitted")
        write(t, nearHits, s"$out/batch_rejects")
      } finally exactPassed.release()
    }
    job(t, "build_ann_index") { keep =>
      val emb = load(t, spark, in, "embeddings")
      val idx = s"$out/ann_index"
      t.span("operators", "Similarity.writeIvfSqIndex")(
        Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", idx, nlist = 16, iters = 2))
      val nb = t.span("operators", "Similarity.ivfSqTopKFromIndex")(
        keep(Similarity.ivfSqTopKFromIndex(emb.filter(col("vec_id") < 20), "vec_id", "embedding", idx, 5)))
      write(t, nb, s"$out/ann_neighbors")
    }
    job(t, "encode_pq") { keep =>
      val emb = load(t, spark, in, "embeddings")
      val cbs = t.span("operators", "Similarity.pqCodebooks")(
        Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2))
      write(t, spark.createDataFrame(cbs.map { case (s, c, v) => (s, c, v) }).toDF("s", "c_id", "c_v"),
        s"$out/pq_codebooks")
      val codes = t.span("operators", "Similarity.pqEncode")(
        keep(Similarity.pqEncode(emb, "vec_id", "embedding", cbs, 4)))
      write(t, codes, s"$out/pq_codes")
    }
  }
}

object CurationStream extends Workload {
  val warmupPasses = 2
  val passSeconds = 3.6
  val name = "curation_stream"
  val jobs = Seq("curate_stream")
  val outputs = Seq("admitted" -> "curate_stream", "corpus_sigs" -> "curate_stream")

  private def template(work: String) = s"$work/sig_template"

  /** The signature table the job bootstraps on its first run, built once
    * by the same call the job makes. */
  override def bootstrap(spark: SparkSession, in: String, work: String): Unit =
    Dedup.writeSignatureTable(
      Tables.load(spark, in, "documents").select(col("doc_id"), col("text")),
      "text", "doc_id", template(work), k = 5)

  /** Each pass starts from a fresh copy of the bootstrapped table. */
  override def prepare(spark: SparkSession, work: String, out: String): Unit =
    Files.copyTree(template(work), s"$out/corpus_sigs")

  def traced(t: Tracer, spark: SparkSession, in: String, out: String): Unit =
    job(t, "curate_stream") { _ =>
      val corpus = load(t, spark, in, "documents").select(col("doc_id"), col("text"))
      val sigPath = s"$out/corpus_sigs"
      val fs = new org.apache.hadoop.fs.Path(sigPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(sigPath, "_graft_shingle_k")))
        t.span("operators", "Dedup.writeSignatureTable")(
          Dedup.writeSignatureTable(corpus, "text", "doc_id", sigPath, k = 5))
      val srcDir = s"$out/feed"
      t.span("sources", "write:feed")(
        corpus.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 9000000L).as("doc_id"), expr("substring(text, 11)").as("text"))
          .union(corpus.where(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 9500000L).as("doc_id"),
              concat(md5(col("text")), md5(concat(col("text"), lit("a")))).as("text")))
          .write.mode("overwrite").parquet(srcDir))
      val src = spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(srcDir)
      t.span("streaming", "StreamingOps.continuousCurate")(
        graft.streaming.StreamingOps.continuousCurate(
          src, sigPath, s"$out/admitted", "text", "doc_id", k = 5, threshold = 0.5))
    }
}
