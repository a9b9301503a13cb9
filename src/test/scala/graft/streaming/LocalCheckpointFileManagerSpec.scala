package graft.streaming

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

/** The contract `LocalCheckpointFileManager` keeps on local paths, checked
  * against Spark's default `FileContextBasedCheckpointFileManager` where the
  * two must agree: atomic visibility, no-overwrite, verified `.crc`
  * sidecars, permission bits, and checkpoints that restart under either.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tempDir(): JPath = Files.createTempDirectory("ckpt_fm")

  private def local(dir: JPath, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def default(dir: JPath, conf: Configuration = new Configuration()) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir`, hidden temp and `.crc` files included. */
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a file is invisible until close, and cancel leaves no file") {
    val dir = tempDir()
    val fm = local(dir)
    assert(fm.isLocal)
    val target = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.hflush()
    assert(!fm.exists(target))
    assert(!Files.exists(dir.resolve("0")))
    out.close()
    assert(fm.exists(target))
    assert(read(fm, target) == "v1")

    val dropped = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    dropped.write("half".getBytes(UTF_8))
    dropped.cancel()
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("overwriteIfPossible = false throws FileAlreadyExistsException and keeps the file; true replaces it") {
    val dir = tempDir()
    val fm = local(dir)
    val target = new Path(dir.toUri.toString, "0")
    write(fm, target, "first", overwrite = false)
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(fm, target) == "first")
    // Spark's stream leaves the refused temp file (hidden) under either manager
    assert(names(dir).filterNot(_.startsWith(".")) == Set("0"))

    write(fm, target, "third", overwrite = true)
    assert(read(fm, target) == "third")
  }

  test("a .crc sidecar is written, and a flipped data byte fails the read") {
    val dir = tempDir()
    val fm = local(dir)
    val target = new Path(dir.toUri.toString, "0")
    write(fm, target, "v1\n{\"batchWatermarkMs\":0}", overwrite = false)
    assert(Files.size(dir.resolve(".0.crc")) > 0)
    val raf = new RandomAccessFile(dir.resolve("0").toFile, "rw")
    try {
      raf.seek(4)
      val b = raf.read()
      raf.seek(4)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, target))
  }

  test("same files, .crc bytes and permission bits as Spark's default manager, umask applied") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val (a, b) = (tempDir(), tempDir())
      for ((dir, fm) <- Seq(a -> local(a, conf), b -> default(b, conf))) {
        fm.mkdirs(new Path(dir.toUri.toString, "state/0"))
        write(fm, new Path(dir.toUri.toString, "state/0/1.changelog"), "row", overwrite = false)
      }
      val sub = "state/0"
      assert(names(a.resolve(sub)) == Set("1.changelog", ".1.changelog.crc"))
      assert(names(a.resolve(sub)) == names(b.resolve(sub)))
      assert(Files.readAllBytes(a.resolve(s"$sub/.1.changelog.crc")) sameElements
        Files.readAllBytes(b.resolve(s"$sub/.1.changelog.crc")))
      for (rel <- Seq("state", sub, s"$sub/1.changelog", s"$sub/.1.changelog.crc")) {
        val mode = Files.getPosixFilePermissions(a.resolve(rel))
        assert(mode == Files.getPosixFilePermissions(b.resolve(rel)), s"$rel under umask $umask")
        if (umask == "077") assert(mode.asScala.forall(_.name.startsWith("OWNER")), rel)
      }
    }
  }

  test("a checkpoint restarts across managers with its state intact") {
    import spark.implicits._
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val ours = spark.conf.get(key)
    assert(ours == classOf[LocalCheckpointFileManager].getName)
    val inDir = tempDir()
    val ckpt = tempDir().toString
    val counts = new ConcurrentHashMap[String, Long]()

    // a RocksDB-backed count per key: each run's counts carry the state
    // the previous run committed under the other manager
    def run(manager: String, file: String, keys: Seq[String]): Long = {
      Files.writeString(inDir.resolve(file), keys.map(k => s"""{"k":"$k"}""").mkString("", "\n", "\n"))
      spark.conf.set(key, manager)
      try {
        val q = spark.readStream.schema("k STRING").json(inDir.toString)
          .groupBy($"k").count()
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.collect().foreach(r => counts.put(r.getString(0), r.getLong(1)))
          }
          .start()
        try {
          q.processAllAvailable()
          q.recentProgress.map(_.numInputRows).sum
        } finally q.stop()
      } finally spark.conf.set(key, ours)
    }

    val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
    assert(run(sparkDefault, "1.json", Seq("a", "a", "b")) == 3)
    assert(run(ours, "2.json", Seq("a", "c")) == 2)
    assert(counts.asScala == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(run(sparkDefault, "3.json", Seq("a", "b")) == 2)
    assert(counts.asScala == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }
}
