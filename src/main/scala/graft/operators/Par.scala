package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism widening (optimization guide §2.5, "input
  * skew — one huge unsplittable file … repartition immediately after
  * the read", and §1.2 step 1: fix the distributed shape before tuning
  * per-task work).
  *
  * The CPU-heavy kernels (md5 minhash towers, shingle explodes, n-gram
  * LM counting, HTML extraction) are often fed straight off a parquet
  * scan. Spark sizes scan splits for IO (`maxSplitBytes` floors at
  * `spark.sql.files.openCostInBytes` = 4 MB), so a small-but-expensive
  * input — one file, one row group — arrives in FEWER SPLITS THAN
  * CORES and the kernel runs nearly single-threaded while the rest of
  * the machine idles. One cheap round-robin repartition fans the rows
  * out once; the shuffle moves only the small input.
  *
  * Scale contract: the decision derives from the INPUT SIZE, not from
  * a constant tuned to local mode. A 100 TB scan is far over the
  * threshold (its splits already exceed any executor count), so the
  * widen is a no-op there and no shuffle is added; only inputs small
  * enough to under-split get fanned out. Sources whose size is not
  * cheaply knowable (non-file relations, checkpointed RDDs, object
  * stores) are left untouched — the conservative direction.
  */
object Par {

  /** per-task input bytes below which a CPU-bound kernel deserves more
    * fan-out than the IO-sized scan splits give it (the 4 MB scan
    * split floor: past ~cores × 4 MB the scan itself already yields
    * one split per core) */
  private val BytesPerTask = 4L << 20

  /** `df` repartitioned to the default parallelism iff its file-backed
    * input is small enough that the scan under-splits; identity
    * otherwise. Row-content invariant — callers put it strictly below
    * any filter they want pushed down to the scan. */
  def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target <= 1) return df
    val files =
      try df.inputFiles
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    if (files.isEmpty) return df
    var total = 0L
    var i = 0
    while (i < files.length) {
      val f = files(i)
      try {
        val uri = new java.net.URI(f)
        if (uri.getScheme != null && uri.getScheme != "file") return df
        // a missing or unreadable file has no knowable size (File.length
        // reads 0 for it); a legitimately 0-byte part file adds nothing
        val file = new java.io.File(uri.getPath)
        if (!file.isFile) return df
        total += file.length()
      } catch { case scala.util.control.NonFatal(_) => return df }
      i += 1
    }
    if (total < target.toLong * BytesPerTask) df.repartition(target) else df
  }

  /** Run `body` under a job description, restoring the CALLER's
    * description afterwards — `setJobDescription(null)` on exit would
    * clobber an outer label when operators nest (ADVICE r17). */
  def withJobDescription[T](sc: org.apache.spark.SparkContext,
      desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
