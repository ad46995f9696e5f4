package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{Dedup, KCore, Knn, LabelProp, PageRank}
import graft.predicates.{OpType, PNodeCompiler, PredicateNode}
import graft.sources.slab.SlabTable
import graft.sources.xvec.XvecIO

/** A benchmark workload: seeded inputs written by [[setup]], references
  * built by [[reference]] (untimed), and one pass of operations in [[run]].
  * `items` is the work one pass completes, fixed for every seed.
  * `passSeconds` is the nominal length of a warm pass on 4 cores; it fixes
  * how many warm passes a run of `--seconds` makes.
  */
trait Workload {
  def name: String
  def items: Long
  def passSeconds: Double
  def setup(spark: SparkSession, dir: File, seed: Long): Unit
  def reference(corrupt: Boolean): Unit
  def run(p: Pass): Unit
}

object Workload {
  val names: Seq[String] = Seq("knn-gt", "graph-iter", "corpus-dedup")

  def apply(name: String, scale: Double): Workload = name match {
    case "knn-gt" => new KnnGt(scale)
    case "graph-iter" => new GraphIter(scale)
    case "corpus-dedup" => new CorpusDedup(scale)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  private[perfbench] def localDF(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

import Workload.close

/** Exact KNN ground truth: parquet → fvec conversion, two windowed fvec
  * scans, exact top-100 under cosine and L2, a label-filtered top-100 with
  * a compiled predicate, and recall between the two metrics' answers.
  * Items are query vectors answered (three KNN calls per pass).
  */
final class KnnGt(scale: Double) extends Workload {
  val name = "knn-gt"
  private val n = math.max(4000, (20000 * scale).toInt)
  private val dim = 64
  private val nq = 100
  private val k = 100
  private val labels = 20
  private val sample = 16
  val items: Long = 3L * nq
  // a warm pass is about 2.5 s, but the first warm pass still runs slow
  // while the JIT settles: count passes as 1.25 s so that a run makes four
  // and their median is a settled pass
  val passSeconds = 1.25

  private var v: Inputs.Vectors = _
  private var dir: File = _
  private def basePath = new File(dir, "base.parquet").getPath
  private def queryPath = new File(dir, "queries.parquet").getPath
  private def fvecPath = new File(dir, "base.fvec").getPath
  private val refs = mutable.Map[String, Array[Array[Double]]]()

  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.dir = dir
    v = Inputs.vectors(seed, n, dim, nq, labels)
    val vecT = ArrayType(FloatType, containsNull = false)
    Workload.localDF(spark, v.base.indices.map(i => Row(i.toLong, v.base(i), v.labels(i))),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", vecT),
        StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(basePath)
    Workload.localDF(spark, v.queries.indices.map(i => Row(i.toLong, v.queries(i))),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", vecT))))
      .write.mode("overwrite").parquet(queryPath)
  }

  private def keep(variant: String): Int => Boolean =
    if (variant == "filtered") i => v.labels(i) == v.filterLabel else _ => true
  private def metric(variant: String) = if (variant == "l2") "L2" else "COSINE"

  def reference(corrupt: Boolean): Unit = {
    Seq("cosine", "l2", "filtered").foreach { variant =>
      refs(variant) = (0 until sample).map(q =>
        Reference.topKDistances(v.queries(q), v.base, keep(variant), metric(variant), k)).toArray
    }
    if (corrupt) refs("cosine")(0)(0) += 1.0
  }

  /** Rows (query_id, neighbor_id, rank, dist): every query has ranks 1..k
    * (fewer if the filter leaves fewer base rows);
    * sampled queries match the brute-force distances, and every reported
    * neighbour passes the filter and lies at its reported distance.
    */
  private def checkKnn(rows: Array[Row], variant: String): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val byQ = rows.groupBy(_.getLong(0))
    if (byQ.size != nq) errs += s"${byQ.size} queries answered, expected $nq"
    val ranks = 1 to math.min(k, v.base.indices.count(keep(variant)))
    byQ.foreach { case (q, rs) =>
      if (rs.map(_.getInt(2)).sorted.toSeq != ranks) errs += s"query $q ranks are not 1..${ranks.size}"
    }
    (0 until sample).foreach { q =>
      val got = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getInt(2))
      val want = refs(variant)(q)
      if (got.length != want.length) errs += s"query $q: ${got.length} neighbours"
      else got.zip(want).foreach { case (r, d) =>
        val id = r.getLong(1).toInt
        if (!close(r.getDouble(3), d)) errs += s"query $q rank ${r.getInt(2)}: dist ${r.getDouble(3)} != $d"
        else if (id < 0 || id >= n || !keep(variant)(id) ||
            !close(Reference.distance(v.queries(q), v.base(id), metric(variant)), d))
          errs += s"query $q rank ${r.getInt(2)}: neighbour $id is wrong"
      }
    }
    errs.toSeq
  }

  def run(p: Pass): Unit = {
    val spark = p.spark
    val base = spark.read.parquet(basePath)
    val queries = spark.read.parquet(queryPath)

    p.op("XvecIO.write") {
      XvecIO.write(base.select(col("vec_id").as("ordinal"), col("embedding").as("vector")),
        fvecPath)
    } { written =>
      p.counters("xvec_bytes") = new File(fvecPath).length().toDouble
      if (written != n) Seq(s"wrote $written records, expected $n") else Nil
    }

    val windows = Seq((0, n / 2), (3 * n / 4, n))
    p.op("XvecIO.read") {
      windows.map { case (a, b) =>
        XvecIO.read(spark, fvecPath, s"[$a..$b)")
          .agg(count(lit(1)), min("ordinal"), max("ordinal"),
            sum(aggregate(col("vector"), lit(0.0), (acc, x) => acc + x)))
          .collect()(0)
      }
    } { got =>
      p.counters("xvec_rows") = windows.map { case (a, b) => b - a }.sum.toDouble
      windows.zip(got).flatMap { case ((a, b), r) =>
        val want = (a until b).map(i => v.base(i).map(_.toDouble).sum).sum
        if (r.getLong(0) != b - a || r.getLong(1) != a || r.getLong(2) != b - 1 ||
            !close(r.getDouble(3), want, 1e-6))
          Seq(s"window [$a..$b) read back as $r")
        else Nil
      }
    }

    def knn(variant: String, extra: Seq[String] = Nil,
        pred: Option[org.apache.spark.sql.Column] = None): Option[Array[Row]] =
      p.op(s"Knn.knn_$variant") {
        Knn.knn(queries, base, k, metric(variant), baseExtra = extra, pairPredicate = pred)
          .collect()
      }(checkKnn(_, variant))

    val cos = knn("cosine")
    val l2 = knn("l2")
    val pred = p.op("PNodeCompiler.compile") {
      PNodeCompiler.compile(PredicateNode.named("b_label", OpType.EQ, v.filterLabel.toLong))
    }(_ => Nil)
    pred.foreach(c => knn("filtered", Seq("label"), Some(c)))
    val selected = v.labels.count(_ == v.filterLabel).toLong
    p.counters("distance_pairs") = (nq.toLong * (2L * n + selected)).toDouble

    for (c <- cos; l <- l2) {
      val schema = StructType(Seq(StructField("query_id", LongType),
        StructField("neighbor_id", LongType)))
      def pairs(rows: Array[Row]) = rows.map(r => Row(r.getLong(0), r.getLong(1))).toSeq
      p.op("Knn.avgRecall") {
        Knn.avgRecall(Workload.localDF(spark, pairs(l), schema),
          Workload.localDF(spark, pairs(c), schema), k).collect()(0).getDouble(0)
      } { recall =>
        val truth = c.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val hits = l.groupBy(_.getLong(0)).map { case (q, rs) =>
          rs.count(r => truth.getOrElse(q, Set.empty[Long]).contains(r.getLong(1)))
        }
        val want = hits.sum.toDouble / (k * truth.size)
        if (math.abs(recall - want) > 5e-5 + 1e-12) Seq(s"recall $recall, expected $want") else Nil
      }
      c.map(r => r.getLong(0) * 1000003L + r.getLong(1)).sorted.foreach(p.mix)
    }
  }
}

/** Iterative graph operators on a skewed directed graph: PageRank (10
  * rounds), convergence-stopped PageRank, coreness and label propagation.
  * Items are input edges per operator call (four per pass). `Scc.scc` is
  * left out: at about 230 jobs per call it alone would double the pass.
  */
final class GraphIter(scale: Double) extends Workload {
  val name = "graph-iter"
  private val n = math.max(1000, (2000 * scale).toInt)
  private val outDeg = 3
  private val iters = 10
  private val eps = 1e-2
  private val maxIters = 100
  private val lpIters = 2
  private val alpha = 0.8
  val items: Long = 4L * n * outDeg
  val passSeconds = 11.0

  private var g: Inputs.Graph = _
  private var dir: File = _
  private def edgePath = new File(dir, "edges.parquet").getPath
  private def seedPath = new File(dir, "seeds.parquet").getPath

  private var adj: Reference.Adjacency = _
  private var index: Map[Long, Int] = _
  private var pr: Array[Double] = _
  private var prRounds = 0
  private var prUntil: Array[Double] = _
  private var core: Array[Int] = _
  private var lp: Array[Double] = _

  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.dir = dir
    g = Inputs.graph(seed, n, outDeg)
    Workload.localDF(spark, g.src.indices.map(e => Row(g.src(e), g.dst(e))),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
      .write.mode("overwrite").parquet(edgePath)
    Workload.localDF(spark, g.seedIds.indices.map(i => Row(g.seedIds(i), g.seedLabels(i))),
      StructType(Seq(StructField("id", LongType), StructField("label", DoubleType))))
      .write.mode("overwrite").parquet(seedPath)
  }

  def reference(corrupt: Boolean): Unit = {
    adj = Reference.adjacency(g.src, g.dst)
    index = adj.ids.zipWithIndex.toMap
    pr = Reference.pageRank(adj, iters)
    prRounds = Reference.pageRankRounds(adj, eps, maxIters)
    prUntil = Reference.pageRank(adj, prRounds)
    core = Reference.coreness(adj)
    val y = new Array[Double](adj.n)
    g.seedIds.indices.foreach(i => y(index(g.seedIds(i))) = g.seedLabels(i))
    lp = Reference.labelProp(adj, y, lpIters, alpha)
    if (corrupt) pr(0) *= 2
  }

  /** Every node once, each value matching the reference. */
  private def checkValues[T](rows: Array[Row], want: Array[T], value: Row => T,
      same: (T, T) => Boolean): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    if (rows.length != adj.n) errs += s"${rows.length} nodes, expected ${adj.n}"
    val seen = new Array[Boolean](adj.n)
    rows.foreach { r =>
      index.get(r.getLong(0)) match {
        case None => errs += s"unknown node ${r.getLong(0)}"
        case Some(i) =>
          if (seen(i)) errs += s"node ${r.getLong(0)} repeated"
          seen(i) = true
          if (!same(value(r), want(i))) errs += s"node ${r.getLong(0)}: ${value(r)} != ${want(i)}"
      }
    }
    errs.take(5).toSeq
  }

  def run(p: Pass): Unit = {
    val spark = p.spark
    val edges = spark.read.parquet(edgePath)
    val seeds = spark.read.parquet(seedPath)
    val near = (a: Double, b: Double) => close(a, b)

    p.op("PageRank.pageRank") {
      PageRank.pageRank(edges, iters).collect()
    }(checkValues(_, pr, _.getDouble(1), near))

    p.op("PageRank.pageRankUntil") {
      val (ranks, rounds, converged) = PageRank.pageRankUntil(edges, eps, maxIters)
      (ranks.collect(), rounds, converged)
    } { case (rows, rounds, converged) =>
      p.counters("pagerank_rounds") = rounds.toDouble
      if (!converged) Seq(s"did not converge in $rounds rounds")
      else if (rounds != prRounds) Seq(s"stopped after $rounds rounds, expected $prRounds")
      else checkValues(rows, prUntil, _.getDouble(1), near)
    }

    p.op("KCore.coreness") {
      KCore.coreness(edges).collect()
    } { rows =>
      rows.map(r => r.getLong(0) * 31 + r.getInt(1)).sorted.foreach(p.mix)
      checkValues[Int](rows, core, _.getInt(1), _ == _)
    }

    p.op("LabelProp.propagate") {
      LabelProp.propagate(edges, seeds, lpIters, alpha).collect()
    }(checkValues(_, lp, _.getDouble(1), near))
  }
}

/** LLM-corpus curation: the exact+near dedup cascade, MinHash LSH pairs,
  * exact-substring removal, then the surviving cleaned documents appended
  * to a slab table and a sample read back. Items are input documents.
  */
final class CorpusDedup(scale: Double) extends Workload {
  val name = "corpus-dedup"
  private val n = math.max(1000, (4000 * scale).toInt)
  private val minLen = 40
  private val sampleSize = 500
  val items: Long = n.toLong
  val passSeconds = 3.5

  private var c: Inputs.Corpus = _
  private var dir: File = _
  private var passNo = 0
  private def docPath = new File(dir, "docs.parquet").getPath

  private var status: Array[(String, Long)] = _
  private var lshPairs: Map[(Long, Long), Double] = _
  private var cleaned: Array[String] = _

  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.dir = dir
    c = Inputs.corpus(seed, n)
    Workload.localDF(spark, c.texts.indices.map(i => Row(i.toLong, c.texts(i))),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .write.mode("overwrite").parquet(docPath)
  }

  /** Expected outputs from the planted families: exact copies share a
    * text; near pairs can only occur inside a family, where their word
    * 3-gram Jaccard is computed exactly.
    */
  def reference(corrupt: Boolean): Unit = {
    val canon = c.texts.indices.groupBy(c.texts(_)).values
      .flatMap(g => g.map(_ -> g.min)).toMap
    val sh = c.texts.map(Reference.shingles(_))
    val familyPairs = c.family.indices.groupBy(c.family(_)).values.toSeq.flatMap { f =>
      val s = f.sorted
      for (i <- s.indices; j <- i + 1 until s.length)
        yield (s(i), s(j), Reference.jaccard(sh(s(i)), sh(s(j))))
    }
    val nearCanon = familyPairs
      .filter { case (a, b, j) => j >= 0.5 && canon(a) == a && canon(b) == b }
      .groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    status = c.texts.indices.map { i =>
      if (canon(i) != i) ("exact_dup", canon(i).toLong)
      else nearCanon.get(i).fold(("kept", i.toLong))(a => ("near_dup", a.toLong))
    }.toArray
    lshPairs = familyPairs.filter(_._3 >= 0.8)
      .map { case (a, b, j) => (a.toLong, b.toLong) -> j }.toMap
    cleaned = Reference.removeExactSubstr(c.texts, minLen)
    if (corrupt) status(0) = ("corrupted", -1L)
  }

  def run(p: Pass): Unit = {
    val spark = p.spark
    val docs = spark.read.parquet(docPath)
    passNo += 1

    val statuses = p.op("Dedup.dedupPipeline") {
      Dedup.dedupPipeline(docs, "id", "text").collect()
    } { rows =>
      rows.map(r => r.getLong(0) * 7 + r.getString(1).length).sorted.foreach(p.mix)
      val errs = mutable.ArrayBuffer[String]()
      if (rows.length != n) errs += s"${rows.length} rows, expected $n"
      rows.foreach { r =>
        val want = status(r.getLong(0).toInt)
        if ((r.getString(1), r.getLong(2)) != want)
          errs += s"doc ${r.getLong(0)}: (${r.getString(1)}, ${r.getLong(2)}) != $want"
      }
      errs.take(5).toSeq
    }

    p.op("Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(docs, "id", "text").collect()
    } { rows =>
      p.counters("hash_docs") = n.toDouble
      val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      got.keys.toSeq.sorted.foreach { case (a, b) => p.mix(a * 1000003L + b) }
      val missing = lshPairs.keySet -- got.keySet
      val extra = got.keySet -- lshPairs.keySet
      val wrong = got.filter { case (k, j) => lshPairs.get(k).exists(w => !close(j, w)) }
      if (rows.length != got.size) Seq(s"${rows.length - got.size} repeated pairs")
      else if (missing.nonEmpty || extra.nonEmpty || wrong.nonEmpty)
        Seq(s"${missing.size} pairs missing, ${extra.size} extra, ${wrong.size} with a wrong " +
          s"jaccard (e.g. ${(missing ++ extra ++ wrong.keySet).take(3).mkString(", ")})")
      else Nil
    }

    val texts = p.op("Dedup.removeExactSubstrChar") {
      Dedup.removeExactSubstrChar(docs, "id", "text", minLen).collect()
    } { rows =>
      val errs = mutable.ArrayBuffer[String]()
      if (rows.length != n) errs += s"${rows.length} rows, expected $n"
      rows.foreach { r =>
        val i = r.getLong(0).toInt
        if (r.getString(1) != cleaned(i) || r.getLong(2) != c.texts(i).length - cleaned(i).length)
          errs += s"doc $i: kept ${r.getString(1).length} chars, removed ${r.getLong(2)}; " +
            s"expected ${cleaned(i).length}"
      }
      errs.take(5).toSeq
    }

    // survivors: documents the cascade keeps, with their cleaned text
    val kept: Array[Long] = statuses.fold(status.indices.filter(status(_)._1 == "kept")
      .map(_.toLong).toArray)(_.filter(_.getString(1) == "kept").map(_.getLong(0)).sorted)
    val clean: Map[Long, String] = texts.fold(cleaned.indices.map(i => i.toLong -> cleaned(i))
      .toMap)(_.map(r => r.getLong(0) -> r.getString(1)).toMap)
    val slabDir = new File(dir, s"slab-$passNo")
    val table = new SlabTable(spark, slabDir.getPath)
    val appended = p.op("SlabTable.append") {
      table.append("docs", Workload.localDF(spark,
        kept.toSeq.map(i => Row(i, clean(i).getBytes(UTF_8))),
        StructType(Seq(StructField("ordinal", LongType), StructField("data", BinaryType)))))
    }(_ => Nil)

    // a fixed sample of ordinals, survivors and non-survivors, in a
    // shuffled submission order
    val r = new java.util.SplittableRandom(n.toLong + passNo)
    val requests = Array.fill(sampleSize)(r.nextInt(n).toLong)
    if (appended.isDefined) p.op("SlabTable.getAll") {
      table.getAll("docs", Workload.localDF(spark,
        requests.indices.map(i => Row(i.toLong, requests(i))),
        StructType(Seq(StructField("request_idx", LongType), StructField("ordinal", LongType)))))
        .collect()
    } { rows =>
      val keptSet = kept.toSet
      val errs = mutable.ArrayBuffer[String]()
      if (rows.map(_.getLong(0)).toSeq != requests.indices.map(_.toLong))
        errs += "results are not in submission order"
      rows.foreach { row =>
        val ord = row.getLong(1)
        val want = if (keptSet(ord)) clean(ord) else null
        val got = if (row.isNullAt(2)) null else new String(row.getAs[Array[Byte]](2), UTF_8)
        if (got != want) errs += s"ordinal $ord read back wrong"
      }
      errs.take(5).toSeq
    }
    deleteTree(slabDir)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
