package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFiles

/** [[LocalCheckpointFiles]] against Spark's default checkpoint file
  * manager: one operation sequence run on a fresh directory under each
  * must leave the same files, `.crc` sidecars included, and fail the
  * same way on a no-overwrite collision; a corrupted file must fail its
  * read; and a path of any other scheme must reach Spark's default
  * manager. */
class LocalCheckpointFilesSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def spark(root: NioPath): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(new Path(root.toUri), conf)
  private def local(root: NioPath): CheckpointFileManager =
    new LocalCheckpointFiles(new Path(root.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** `name` with its temp-file UUID, if any, masked: the temp file a
    * no-overwrite collision leaves behind has a random name. */
  private def masked(name: String): String = name.replaceAll(
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")

  /** Every file and directory under `root`, relative, hidden ones too. */
  private def tree(root: NioPath): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map(p => masked(root.relativize(p).toString) +
        " " + PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .toSeq.sorted
    finally s.close()
  }

  /** The sequence: mkdirs, createAtomic with overwrite true (new and
    * existing target) and false (new target, then a collision), a
    * cancelled write, list, open and delete. Returns the listing of `d`,
    * what `open` read, and the collision's exception. */
  private def sequence(fm: CheckpointFileManager, root: NioPath)
      : (Seq[String], String, Throwable) = {
    val d = new Path(root.toUri.toString, "offsets")
    fm.mkdirs(d)
    write(fm, new Path(d, "0"), "first", overwrite = true)
    write(fm, new Path(d, "0"), "second", overwrite = true)
    write(fm, new Path(d, "1"), "one", overwrite = false)
    val collision = intercept[FileAlreadyExistsException] {
      write(fm, new Path(d, "1"), "again", overwrite = false)
    }
    val cancelled = fm.createAtomic(new Path(d, "2"), true)
    cancelled.write("never".getBytes(UTF_8))
    cancelled.cancel()
    val listed = fm.list(d).map(f => masked(f.getPath.getName)).toSeq.sorted
    val text = read(fm, new Path(d, "0"))
    write(fm, new Path(d, "3"), "three", overwrite = true)
    fm.delete(new Path(d, "3"))
    (listed, text, collision)
  }

  test("the same sequence leaves the same files, .crc sidecars " +
      "included, under LocalCheckpointFiles and Spark's default") {
    val (a, b) = (TestSpark.tempDir("graft_cfm_spark"),
      TestSpark.tempDir("graft_cfm_local"))
    val (listedA, textA, _) = sequence(spark(a), a)
    val (listedB, textB, collision) = sequence(local(b), b)
    assert(collision.isInstanceOf[FileAlreadyExistsException])
    assert(textA == "second" && textB == "second")
    assert(listedA == Seq(".1.<uuid>.tmp", "0", "1") && listedB == listedA,
      s"listed $listedB vs default $listedA")
    assert(tree(b) == tree(a), s"local ${tree(b)} vs default ${tree(a)}")
    assert(tree(b).exists(_.startsWith("offsets/.0.crc ")),
      s"no checksum sidecar: ${tree(b)}")
    assert(!tree(b).exists(n => n.startsWith("offsets/2 ") ||
        n.startsWith("offsets/.2.")),
      s"a cancelled write left a file: ${tree(b)}")
  }

  test("a byte flipped on disk fails the read with ChecksumException") {
    val root = TestSpark.tempDir("graft_cfm_flip")
    val fm = local(root)
    val f = new Path(root.toUri.toString, "commits/0")
    fm.mkdirs(f.getParent)
    write(fm, f, "v1\n{\"nextBatchWatermarkMs\":0}", overwrite = false)
    val onDisk = root.resolve("commits/0")
    val bytes = Files.readAllBytes(onDisk)
    bytes(3) = (bytes(3) ^ 0x20).toByte
    Files.write(onDisk, bytes)
    intercept[ChecksumException](read(fm, f))
  }

  test("a path of another scheme goes to Spark's default manager") {
    val root = TestSpark.tempDir("graft_cfm_stub")
    val stubConf = new Configuration()
    stubConf.set("fs.AbstractFileSystem.stub.impl",
      classOf[StubSchemeFs].getName)
    val made = StubSchemeFs.made.get
    val d = new Path(s"stub://${root.toUri.getPath}/offsets")
    val fm = new LocalCheckpointFiles(d, stubConf)
    assert(fm.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(StubSchemeFs.made.get > made, "the stub file system was not used")
    fm.mkdirs(d)
    write(fm, new Path(d, "0"), "stub", overwrite = false)
    assert(read(fm, new Path(d, "0")) == "stub")
    assert(Files.readString(root.resolve("offsets/0")) == "stub")
  }
}

/** A `stub:` scheme over the raw local file system, for
  * [[LocalCheckpointFilesSpec]]; it counts its instances. */
class StubSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem {
      override def getUri: URI = URI.create("stub:///")
    }, conf, "stub", false) {
  StubSchemeFs.made.incrementAndGet()
}

object StubSchemeFs {
  val made = new AtomicInteger
}
