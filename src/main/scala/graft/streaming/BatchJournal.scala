package graft.streaming

import java.nio.charset.StandardCharsets

/** Minimal atomic file ops for the live bot's four logs, one small file per
  * name: the http-ndjson source's replay journal (one file per planned
  * offset window), [[DelayedDispatcher]]'s `pending/` and `dispatched/`
  * logs (one file per micro-batch id), and the rules store
  * ([[graft.rules.RuleStore]], one file replaced on every mutation).
  *
  * Two backends: java.nio for local dirs and Hadoop FS for hdfs/object-store
  * ones. The local path must NOT go through the Hadoop local FS: without
  * native-hadoop (the common laptop/container case),
  * `RawLocalFileSystem.setPermission` FORKS a `chmod` process on every
  * file create — at one journal write per micro-batch that starves a
  * fast trigger loop (observed: `processAllAvailable` never quiescing
  * against a 100 ms feed).
  */
private[graft] sealed trait BatchJournal {
  def names(): Seq[String]
  def exists(name: String): Boolean
  protected def input(name: String): java.io.InputStream
  def readLines(name: String): Seq[String] = {
    val src = scala.io.Source.fromInputStream(input(name), "UTF-8")
    try src.getLines().toVector finally src.close()
  }
  /** Write-then-rename (the temp file is `._<name>.tmp`, which Spark's
    * file listing skips); an existing target is REPLACED. */
  def writeAtomic(name: String, lines: Iterator[String]): Unit
  def delete(name: String): Unit
}

private[graft] object BatchJournal {
  def open(dir: String): BatchJournal = {
    val uri = try java.net.URI.create(dir) catch { case _: Throwable => null }
    if (uri == null || uri.getScheme == null)
      new NioBatchJournal(java.nio.file.Paths.get(dir))
    else if (uri.getScheme == "file")
      new NioBatchJournal(java.nio.file.Paths.get(uri.getPath))
    else new HadoopBatchJournal(dir)
  }
}

private final class NioBatchJournal(dir: java.nio.file.Path) extends BatchJournal {
  import java.nio.file.{Files, StandardCopyOption}
  override def names(): Seq[String] =
    Option(dir.toFile.list()).fold(Seq.empty[String])(_.toSeq) // null: no dir yet
  override def exists(name: String): Boolean = Files.exists(dir.resolve(name))
  override protected def input(name: String) = Files.newInputStream(dir.resolve(name))
  override def writeAtomic(name: String, lines: Iterator[String]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"._$name.tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
  override def delete(name: String): Unit = Files.deleteIfExists(dir.resolve(name))
}

private[graft] final class HadoopBatchJournal(dir: String) extends BatchJournal {
  import org.apache.hadoop.fs.{FileContext, Options, Path}
  private val root = new Path(dir)
  private lazy val conf =
    try org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    catch { case _: Throwable => new org.apache.hadoop.conf.Configuration() }
  private lazy val fs = root.getFileSystem(conf)
  private lazy val fc = FileContext.getFileContext(root.toUri, conf)
  override def names(): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
  override def exists(name: String): Boolean = fs.exists(new Path(root, name))
  override protected def input(name: String) = fs.open(new Path(root, name))
  override def writeAtomic(name: String, lines: Iterator[String]): Unit = {
    val tmp = new Path(root, s"._$name.tmp")
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8))
      lines.foreach { l => w.write(l); w.write('\n') }
      w.flush()
    } finally out.close()
    // one call that replaces the target (atomic where the file system can,
    // as Spark's FileContextBasedCheckpointFileManager relies on) and throws
    // on failure: deleting the target first would lose it to a crash
    // between the delete and the rename
    fc.rename(tmp, new Path(root, name), Options.Rename.OVERWRITE)
  }
  override def delete(name: String): Unit = fs.delete(new Path(root, name), false)
}
