package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warm-vs-warm 4× scale-up curves for the suite's slowest queries.
  *
  * Builds (once, cached by path) a 4× dataset derived from sf0.1 whose
  * copies are STRUCTURALLY DISJOINT — the levers matter, because a naive
  * 4× self-union makes every doc an exact duplicate of 3 clones and the
  * dedup/near-dup queries degenerate into quadratic pair blowups that
  * measure the fixture, not the operator:
  *
  *  - documents: doc_id offset per copy; copies 1-3 pass through a
  *    per-copy SUBSTITUTION CIPHER (`translate` over a rotated lowercase
  *    alphabet). A character bijection preserves EVERY structural
  *    property bit-for-bit — text length, token boundaries, per-doc
  *    distinct char-gram and term counts, frequency profiles, quality
  *    scores — while making content disjoint across copies (terms and
  *    char-5-grams land in rotated alphabets). The first attempt salted
  *    a suffix onto every token instead, and the suite's MinHash queries
  *    blew up 147×: `Dedup.shingles` are CHARACTER 5-grams, and a
  *    constant "~c1 " bridge at every word junction collapsed gram
  *    diversity so thousands of docs collided into single LSH buckets —
  *    the fixture, not the operator, had gone quadratic.
  *  - lineitem/orders: order keys offset per copy, part keys SHARED —
  *    4× baskets over the same catalog (edge sets unchanged, weights ×4;
  *    the basket-keyed shuffles see 4× rows).
  *  - embeddings: vec_id offset per copy, vectors kept — ANN corpus and
  *    (hash-sampled) query side both scale 4×, so the full-probe exact
  *    audit (q137) is expected ~16× (it is O(corpus × queries) BY DESIGN;
  *    the production path caps queries or probes nProbe < nLists).
  *  - part: copied as-is.
  *
  * Runs each target query warm (one full warm pass per dir, then
  * min-of-`reps` measured passes — Bench.scala's discipline) at 1× and 4×
  * and prints one JSON line per query: name, t1x, t4x, ratio.
  */
object ScaleUpBench {
  private val Off = 100000000L // key offset per copy; >> any sf0.1 key

  val defaultTargets: Seq[String] = Seq(
    "q137_label_agreement", "q133_overlap_matrix", "q74_bm25",
    "q159_label_prop", "q75_cluster_canonical", "q172_leakage_audit",
    "q145_copurchase", "q139_jaccard_join", "q78_bm25_index",
    "q84_hybrid_rrf")

  /** Override via SPARK_GRAFT_SCALE_TARGETS (comma-separated query names)
    * to curve a different slice of the suite without an edit-compile loop. */
  def targets: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_TARGETS")
    .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    .getOrElse(defaultTargets)

  // by-name union: remaps that select/rename must align by NAME, not
  // position — a generator column-order change would otherwise silently
  // swap same-typed columns (lang/source are both strings)
  private def copies(df: DataFrame, n: Int)(remap: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(c => remap(df, c)).reduce(_ unionByName _)

  /** Build the `factor`× dir if absent. Idempotent via a DONE marker
    * written last; the marker records (srcDir, factor), so overriding
    * SPARK_GRAFT_SCALE_DIR while changing the source dir or factor
    * rebuilds instead of reusing stale scaled data. */
  def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int = 4): Unit = {
    val done = new java.io.File(outDir, "_DONE")
    val stamp = s"$srcDir|$factor\n"
    if (done.exists() &&
        java.nio.file.Files.readString(done.toPath) == stamp) return
    // unmark BEFORE the first table write: a mid-rebuild crash must leave
    // the directory marker-less, or a later run with the ORIGINAL
    // (srcDir, factor) would see the surviving old-stamp marker and
    // silently reuse a mix of old- and new-factor tables
    java.nio.file.Files.deleteIfExists(done.toPath)
    val read = (t: String) => spark.read.parquet(s"$srcDir/$t.parquet")
    val write = (df: DataFrame, t: String) =>
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // affine cipher x -> (a*x + b) mod 26 (a coprime to 26): a bijection on
    // the lowercase alphabet, so every structural property is preserved
    // bit-for-bit while content stays disjoint across copies. 12 units × 26
    // shifts = 312 distinct ciphers — a plain rotation repeats every 26
    // copies, and copies c and c+26 would be EXACT duplicates, turning the
    // dedup queries quadratic at 64×. Copy 0 maps to (a=1, b=0): identity.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    write(copies(read("documents"), factor) { (d, c) =>
      val a = units((c / 26) % units.length)
      val b = c % 26
      val to = alpha.indices.map(x => alpha((a * x + b) % 26)).mkString
      if (c == 0) d
      else d.select((col("doc_id") + c * Off).as("doc_id"),
        translate(col("text"), alpha, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    write(copies(read("embeddings"), factor) { (d, c) =>
      d.select((col("vec_id") + c * Off).as("vec_id"), col("embedding"),
        col("label"))
    }, "embeddings")

    write(copies(read("lineitem"), factor) { (d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + c * Off)
    }, "lineitem")

    write(copies(read("orders"), factor) { (d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + c * Off)
    }, "orders")

    // events: user and event keys offset per copy — 4× structurally
    // disjoint user populations over the SAME time range (4× event
    // density; session/funnel/interval shapes per user unchanged). The
    // per-user event streams the windowed operators key on never mix
    // across copies.
    write(copies(read("events"), factor) { (d, c) =>
      d.withColumn("event_id", col("event_id") + c * Off)
        .withColumn("user_id", col("user_id") + c * Off)
    }, "events")

    // dimension tables pass through unscaled (shared catalog semantics),
    // so any suite query can run against the scaled dir
    Seq("part", "region", "nation", "customer", "supplier")
      .foreach(t => write(read(t), t))
    java.nio.file.Files.writeString(done.toPath, stamp)
    ()
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "4").toInt
    require(factor >= 2 && factor <= 64, s"factor must be in [2, 64]: $factor")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale$factor")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Session.build()
    buildScaled(spark, srcDir, outDir, factor)

    // a query that fails in ANY measured rep must not emit a normal-looking
    // (usually flattering) timing: per-(query, dir) failures are tracked and
    // surface as an "error" field in the JSON line instead of a ratio
    def measure(dir: String): Map[String, Either[String, Double]] = {
      targets.foreach { n => // warm pass (codegen, readers, index builds)
        try SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
        catch { case NonFatal(e) =>
          System.err.println(s"[scaleup] warm $n @ $dir failed: ${e.getMessage}") }
      }
      (1 to reps).map { rep =>
        targets.map { n =>
          val t0 = System.nanoTime()
          val r: Either[String, Double] =
            try {
              SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
              Right((System.nanoTime() - t0) / 1e9)
            } catch { case NonFatal(e) =>
              System.err.println(
                s"[scaleup] rep $rep $n @ $dir failed: ${e.getMessage}")
              Left(Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.next().take(120))
            }
          n -> r
        }.toMap
      }.reduce { (a, b) =>
        a.map { case (k, v) => k -> ((v, b(k)) match {
          case (Right(x), Right(y)) => Right(math.min(x, y))
          case (Left(e), _)         => Left(e)
          case (_, Left(e))         => Left(e)
        })}
      }
    }

    val t1 = measure(srcDir)
    val tN = measure(outDir)
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // control chars first (Spark messages embed tabs even within one
    // line), then the quote/backslash escapes — the output must stay one
    // valid JSON line per query
    def esc(s: String) = s.replaceAll("[\\p{Cntrl}]", " ")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    targets.foreach { n =>
      (t1(n), tN(n)) match {
        case (Right(a), Right(b)) =>
          println(s"""{"query":"$n","factor":$factor,"t1x_sec":${f(a)},"tNx_sec":${f(b)},"ratio":${f(b / a)}}""")
        case (ea, eb) =>
          val msg = Seq(ea.left.toOption.map("1x: " + _),
            eb.left.toOption.map(s"${factor}x: " + _)).flatten.mkString("; ")
          println(s"""{"query":"$n","factor":$factor,"error":"${esc(msg)}"}""")
      }
    }
    spark.stop()
  }
}
