package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.io.SmallFiles
import graft.io.SmallFiles.{HeldBy, Raced}

/** The single-writer claim behind the snapshot publish's manifest slot
  * and the sync pump's cursor lock ([[SmallFiles.claim]],
  * [[SmallFiles.holds]]), driven through each conflict branch by a local
  * filesystem that runs a hook once, at the first open, create or rename
  * the hook is defined at — the moment another writer acts. */
class SmallFilesSpec extends AnyFunSuite with Matchers {

  private class HookedFs extends RawLocalFileSystem {
    var hook: PartialFunction[(String, Path), Unit] = PartialFunction.empty
    private def fire(op: String, p: Path): Unit =
      if (hook.isDefinedAt((op, p))) {
        val h = hook
        hook = PartialFunction.empty
        h((op, p))
      }
    override def open(p: Path, bufferSize: Int): FSDataInputStream = {
      fire("open", p)
      super.open(p, bufferSize)
    }
    override def create(p: Path, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      fire("create", p)
      super.create(p, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      fire("rename", src)
      super.rename(src, dst)
    }
  }

  /** A fresh filesystem and the claim path in an empty directory. */
  private def fresh(): (HookedFs, Path) = {
    val fs = new HookedFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("graft-claim")
    (fs, new Path(dir.toUri.toString, "claim"))
  }

  // the other writer acts on the disk directly, past the hooked calls
  private def local(p: Path) = Paths.get(p.toUri)
  private def put(p: Path, text: String): Unit =
    Files.write(local(p), text.getBytes("UTF-8")): Unit
  private def bytes(p: Path): Seq[Byte] = Files.readAllBytes(local(p)).toSeq
  private def drop(p: Path): Unit = Files.delete(local(p))
  /** The names in the claim's directory: a reclaim leaves no quarantine. */
  private def names(p: Path): Seq[String] =
    local(p).getParent.toFile.list().toSeq.sorted

  test("a free slot is claimed with the owner line first, and holds reads the nonce back") {
    val (fs, p) = fresh()
    SmallFiles.claim(fs, p, "me", "n1", "buckets 2\n") shouldBe None
    new String(bytes(p).toArray, "UTF-8") shouldBe "writer me n1\nbuckets 2\n"
    SmallFiles.holds(fs, p, "n1") shouldBe true
  }

  test("a foreign owner is refused by name and its file is left byte-identical") {
    val (fs, p) = fresh()
    put(p, "buckets 4\nwriter other-sink x-nonce\n")
    val before = bytes(p)
    SmallFiles.claim(fs, p, "me", "n1") shouldBe Some(HeldBy("other-sink"))
    bytes(p) shouldBe before
    names(p) shouldBe Seq("claim")
  }

  test("the caller's own leftover is reclaimed") {
    val (fs, p) = fresh()
    put(p, "writer me dead-nonce\n")
    SmallFiles.claim(fs, p, "me", "n1") shouldBe None
    SmallFiles.holds(fs, p, "n1") shouldBe true
    SmallFiles.holds(fs, p, "dead-nonce") shouldBe false
    names(p) shouldBe Seq("claim")
  }

  test("an empty or truncated claim has no owner and is reclaimed") {
    for (leftover <- Seq("", "writer \n", "buckets 4\nb 0 1\n")) {
      val (fs, p) = fresh()
      put(p, leftover)
      withClue(s"leftover '$leftover': ") {
        SmallFiles.claim(fs, p, "me", "n1") shouldBe None
        SmallFiles.holds(fs, p, "n1") shouldBe true
        names(p) shouldBe Seq("claim")
      }
    }
  }

  test("a holder that releases between the failed create and the owner read lets the retry win") {
    val (fs, p) = fresh()
    put(p, "writer other x-nonce\n")
    fs.hook = { case ("open", `p`) => drop(p) }
    SmallFiles.claim(fs, p, "me", "n1") shouldBe None
    SmallFiles.holds(fs, p, "n1") shouldBe true
  }

  test("a slot released and at once re-claimed by another writer refuses the retry") {
    val (fs, p) = fresh()
    put(p, "writer other x-nonce\n")
    fs.hook = { case ("open", `p`) =>
      drop(p)
      fs.hook = { case ("create", `p`) => put(p, "writer other y-nonce\n") }
    }
    SmallFiles.claim(fs, p, "me", "n1") match {
      case Some(Raced(how)) => how should include("released")
      case other => fail(s"expected a race, got $other")
    }
    SmallFiles.holds(fs, p, "y-nonce") shouldBe true
  }

  test("a live same-owner twin claiming between the owner read and the quarantine is refused before any write, its claim restored byte-identical") {
    val (fs, p) = fresh()
    put(p, "writer me dead-nonce\n")
    val twin = "writer me twin-nonce\nbuckets 4\nb 0 1\n"
    fs.hook = { case ("rename", `p`) => drop(p); put(p, twin) }
    SmallFiles.claim(fs, p, "me", "n1", "buckets 4\nb 0 2\n") match {
      case Some(Raced(how)) => how should include("live 'me' twin")
      case other => fail(s"expected a race, got $other")
    }
    bytes(p) shouldBe twin.getBytes("UTF-8").toSeq
    SmallFiles.holds(fs, p, "n1") shouldBe false
    names(p) shouldBe Seq("claim")
  }

  test("a leftover that vanishes before its quarantine rename refuses the claim") {
    val (fs, p) = fresh()
    put(p, "writer me dead-nonce\n")
    fs.hook = { case ("rename", `p`) => drop(p) }
    SmallFiles.claim(fs, p, "me", "n1") match {
      case Some(Raced(how)) => how should include("rename failed")
      case other => fail(s"expected a race, got $other")
    }
    names(p) shouldBe Nil
  }

  test("a slot re-claimed after the quarantine is deleted refuses the claim") {
    val (fs, p) = fresh()
    put(p, "writer me dead-nonce\n")
    // the quarantine read is the only open of another path
    fs.hook = { case ("open", q) if q != p =>
      fs.hook = { case ("create", `p`) => put(p, "writer other z-nonce\n") }
    }
    SmallFiles.claim(fs, p, "me", "n1") match {
      case Some(Raced(how)) => how should include("re-claimed by another writer")
      case other => fail(s"expected a race, got $other")
    }
    SmallFiles.holds(fs, p, "z-nonce") shouldBe true
    names(p) shouldBe Seq("claim")
  }

  test("a create that fails for a reason other than exists propagates its IOException and leaves no file") {
    val (fs, p) = fresh()
    fs.hook = { case ("create", `p`) => throw new IOException("disk full") }
    intercept[IOException] {
      SmallFiles.claim(fs, p, "me", "n1")
    }.getMessage shouldBe "disk full"
    names(p) shouldBe Nil
  }

  test("the readback is false after a steal and false for a missing file") {
    val (fs, p) = fresh()
    SmallFiles.claim(fs, p, "me", "n1") shouldBe None
    put(p, "writer me stolen-nonce\n")
    SmallFiles.holds(fs, p, "n1") shouldBe false
    drop(p)
    SmallFiles.holds(fs, p, "n1") shouldBe false
  }
}
