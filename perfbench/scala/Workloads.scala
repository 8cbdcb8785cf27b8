package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cqc.{Cmp, Rel, Yannakakis}
import graft.datapipe.{Ann, Dedup}
import graft.sources.Tables
import graft.sql.CqcSql
import graft.topk.RankJoin
import graft.wcoj.{Lftj, Wcoj}

/** One call a user makes. `body` makes the graft call(s), each under the
  * span of its layer, and returns the frame the runner consumes, or None
  * when the call is a write that persists an artifact. */
final case class Op(name: String, kind: String, body: Tracer => Option[DataFrame])

/** A door text from the generated op pool. */
final case class DoorText(name: String, route: String, sql: String)

object DoorText {
  def load(path: String): Seq[DoorText] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    (0 until node.size()).map { i =>
      val n = node.get(i)
      DoorText(n.get("name").asText, n.get("route").asText, n.get("sql").asText)
    }
  }

  def op(spark: SparkSession, t: DoorText): Op =
    Op(t.name, "read", tr => Some(tr.span("sql")(CqcSql.solve(spark, t.sql))))
}

object Workloads {
  private def registerViews(spark: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach(t => Tables.table(spark, data, t).createOrReplaceTempView(t))

  private val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"))

  /** Serve ops per corpus shard: more, smaller reads keep the read median
    * among the serve ops instead of between a flag and a serve. */
  val CorpusBatches = 2

  /** door_mix: the generated door texts plus the graph library calls (the
    * triangle count through `Wcoj` and through `Lftj`, a Yannakakis path
    * with a comparison and a ranked chain), all over the same small
    * graph, where per-call fixed cost dominates. */
  def doorMix(spark: SparkSession, data: String): (Seq[Op], Seq[DoorText]) = {
    registerViews(spark, data, Seq("edges", "vertices", "trades"))
    val texts = DoorText.load(s"$data/door_texts.json")
    val re = spark.table("edges").select("src", "dst", "rating")
    val e = re.select("src", "dst")
    def wcoj(name: String)(f: => DataFrame) = Op(name, "read", t => Some(t.span("wcoj")(f)))
    val kernels = Seq(
      wcoj("tri_wcoj")(Wcoj.triangleCount(e)),
      wcoj("tri_lftj")(Lftj.count(e, tri, Seq("a", "b", "c"))),
      // a path-3 whose end ratings are compared across the join tree
      Op("path3_yannakakis", "read", t => Some(t.span("cqc") {
        Yannakakis.solve(
          Seq(Rel("g1", re.where(col("src") % 32 === 0).toDF("src", "via1", "r1")),
            Rel("g2", e.toDF("via1", "via2")), Rel("g3", re.toDF("via2", "dst", "r3"))),
          Seq(Cmp("r1", "<", "r3")))
          .select("src", "via1", "via2", "dst", "r1", "r3")
      })),
      Op("topk_rankjoin", "read", t => Some(t.span("topk") {
        RankJoin.topKChain(
          Seq(re.toDF("node1", "node2", "rating1"), re.toDF("node2", "node3", "rating2")),
          Seq("rating1", "rating2"), 10, Seq("node1", "node2", "node3"))
          .select("node1", "node2", "node3", "total_rank")
      })))
    (texts.map(DoorText.op(spark, _)) ++ kernels, texts)
  }

  /** corpus_ingest: the verified cycle builds both persisted indexes, then
    * per arriving shard flags it against the on-disk MinHash index, serves
    * its kNN queries from the on-disk IVF-PQ index and appends it to both,
    * and ends with connected components over all flagged pairs. Each timed
    * cycle repeats the shard ops on a copy of the freshly built indexes,
    * so every cycle sees the same index states. */
  final class Corpus(spark: SparkSession, data: String, work: String) {
    val parts: Seq[String] = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$data/corpus_plan.json")).get("parts")
      (0 until node.size()).map(i => node.get(i).get("name").asText)
    }
    private def docs(p: String) = Tables.table(spark, data, s"docs_$p")
    private def emb(p: String) = Tables.table(spark, data, s"emb_$p")
    parts.foreach { p => docs(p); emb(p) } // resolve every input once
    private val allDocs = parts.map(docs).reduce(_ unionByName _)

    def dir(cycle: Int): String = s"$work/idx/c$cycle"
    private val pristine = s"$work/idx/built"
    private def build(name: String)(f: Tracer => Unit) = Op(name, "build", t => { f(t); None })

    /** Keep a copy of cycle `c`'s freshly built indexes. */
    def snapshot(c: Int): Unit = Seq("mh", "ivf").foreach(m => copyTree(s"${dir(c)}/$m", s"$pristine/$m"))

    /** Start cycle `c` from the snapshot instead of building again. */
    def restore(c: Int): Unit = Seq("mh", "ivf").foreach(m => copyTree(s"$pristine/$m", s"${dir(c)}/$m"))

    private def copyTree(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      val dst = java.nio.file.Paths.get(to)
      java.nio.file.Files.createDirectories(dst.getParent)
      val paths = java.nio.file.Files.walk(src)
      try paths.forEach { p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally paths.close()
    }

    def buildOps(c: Int): Seq[Op] = {
      val mh = s"${dir(c)}/mh"
      val ivf = s"${dir(c)}/ivf"
      val base = parts.head
      Seq(
        build("mh_build") { t =>
          val idx = t.span("datapipe.build")(Dedup.minhashIndex(docs(base)))
          t.span("datapipe.write")(idx.write(mh))
        },
        build("ivf_build") { t =>
          val idx = t.span("datapipe.build")(Ann.ivfpqIndex(emb(base)))
          t.span("datapipe.write")(idx.write(ivf))
        })
    }

    def shardOps(c: Int): Seq[Op] = {
      val mh = s"${dir(c)}/mh"
      val ivf = s"${dir(c)}/ivf"
      parts.tail.flatMap { s =>
        val flag = Op(s"flag_$s", "read", t => {
          val idx = t.span("sources.index_read")(Dedup.MinhashIndex.read(spark, mh))
          Some(t.span("datapipe.flag")(Dedup.minhashStreamingFlag(docs(s), idx)))
        })
        // the shard's vectors are its kNN queries, served in batches
        val serve = (0 until Workloads.CorpusBatches).map { b =>
          Op(s"serve_${s}_b$b", "read", t => {
            val idx = t.span("sources.index_read")(Ann.IvfpqIndex.read(spark, ivf))
            val queries = emb(s).where(col("vec_id") % Workloads.CorpusBatches === b)
              .select(col("vec_id").as("q_id"), col("embedding"))
            Some(t.span("datapipe.serve")(Ann.ivfpqServe(queries, idx)))
          })
        }
        val appends = Seq(
          Op(s"mh_append_$s", "write", t => {
            t.span("datapipe.write")(Dedup.MinhashIndex.append(mh, docs(s))); None
          }),
          Op(s"ivf_append_$s", "write", t => {
            t.span("datapipe.write")(Ann.ivfpqAppend(spark, ivf, emb(s))); None
          }))
        (flag +: serve) ++ appends
      }
    }

    def finishOps(c: Int): Seq[Op] = {
      val mh = s"${dir(c)}/mh"
      Seq(
        Op("clusters", "build", t => {
          val idx = t.span("sources.index_read")(Dedup.MinhashIndex.read(spark, mh))
          val pairs = t.span("datapipe.flag")(Dedup.minhashStreamingFlag(allDocs, idx))
            .select(least(col("doc_id"), col("dup_of")).as("d1"),
              greatest(col("doc_id"), col("dup_of")).as("d2"))
            .distinct()
          Some(t.span("datapipe.cluster")(Dedup.clusters(pairs)))
        }))
    }

    /** Content fingerprints of cycle `c`'s persisted indexes. */
    def indexFingerprints(c: Int, members: Seq[String]): Seq[(String, String)] =
      members.map { m =>
        val (n, h) = Fingerprint.of(Tables.readIndexDir(spark, s"${dir(c)}/$m"))
        m -> s"$n:$h"
      }

    /** The DuckDB mirrors the repository ships, for the verified cycle. */
    def oracleSql(): Seq[(String, String)] = {
      val plan = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$data/corpus_plan.json")).get("parts")
      val flags = (1 until plan.size()).map { i =>
        val lo = plan.get(i).get("lo").asLong
        s"flag_${plan.get(i).get("name").asText}" ->
          Dedup.minhashFlagSql(s"a.doc_id >= $lo AND b.doc_id < $lo")
      }
      // the checker materializes the pairs as table flagged_pairs first: the
      // recursive mirror would otherwise re-derive them every iteration
      val pairs = "SELECT DISTINCT least(doc_id, dup_of) AS d1, greatest(doc_id, dup_of) AS d2 " +
        s"FROM (${Dedup.minhashFlagSql()}) __f"
      flags ++ Seq("flagged_pairs" -> pairs,
        "clusters" -> Dedup.clustersSql("SELECT d1, d2 FROM flagged_pairs"))
    }
  }
}

object Fingerprint {
  /** Order-insensitive content fingerprint, reading every column: the row
    * count and a sum of per-row hashes (decimal, so the sum cannot
    * overflow). */
  def of(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)), sum(col("__h"))).collect()(0)
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
