package graft

import org.apache.hadoop.fs.Path

/** core/SidecarIO — the crash-safe sidecar commit. The apply-path specs
  * exercise fresh writes constantly; what they never hit is the UPGRADE
  * path: a sidecar written by a pre-SidecarIO engine version carries a
  * Hadoop checksum twin (.name.crc), and the NIO overwrite must not
  * leave that stale twin behind to fail verification against the new
  * bytes on the next checksummed read. */
class SidecarIOSpec extends SparkSpec {

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("overwriting a checksummed legacy sidecar stays readable (stale .crc removed)") {
    val dir = tmpDir("sidecar-io")
    val p = new Path(dir, "_GRAFT_TEST_STAMP")
    val fs = fsFor(p)
    // legacy write: straight through the (checksum) FileSystem — creates
    // the ._GRAFT_TEST_STAMP.crc twin alongside
    val out = fs.create(p, true)
    try out.write("old".getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(dir, "._GRAFT_TEST_STAMP.crc").exists(),
      "fixture assumption: legacy write produced a checksum twin")
    // SidecarIO overwrite: NIO atomic move of raw bytes; the stale twin
    // must be gone, or this read would throw ChecksumException
    graft.core.SidecarIO.write(fs, p, "new-content")
    val in = fs.open(p)
    val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    // on disk the payload rides inside the torn-write frame (control-char
    // led, so no text payload collides); callers see the unframed content
    assert(raw == "\u0001v1 11 new-content")
    assert(graft.core.SidecarIO.read(fs, p).contains("new-content"))
    assert(!new java.io.File(dir, "._GRAFT_TEST_STAMP.crc").exists(),
      "stale checksum twin survived the overwrite")
  }

  test("first write (no prior sidecar) and repeated overwrites round-trip") {
    val dir = tmpDir("sidecar-io-fresh")
    val p = new Path(dir, "_GRAFT_TEST_WM")
    val fs = fsFor(p)
    fs.mkdirs(new Path(dir))
    graft.core.SidecarIO.write(fs, p, "1")
    graft.core.SidecarIO.write(fs, p, "22")
    graft.core.SidecarIO.write(fs, p, "3") // shrinking content: no stale tail
    assert(graft.core.SidecarIO.read(fs, p).contains("3"))
    // no temp debris left behind
    assert(!new java.io.File(dir, "._GRAFT_TEST_WM.tmp").exists())
  }

  test("fallback scheme (no AbstractFileSystem): committed value readable at every crash point") {
    // The no-AbstractFileSystem fallback (s3a-shaped stores) commits in
    // two phases: stage `.name.new` → delete p (commit) → rename to p.
    // This arm proves the contract the old delete-then-rename could not:
    // at EVERY intermediate state a reader through SidecarIO.read sees
    // either the complete old or the complete new content — never
    // nothing, never torn.
    val dir = tmpDir("sidecar-io-mock")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl",
      classOf[graft.MockStoreFileSystem].getName)
    val p = new Path(s"graftmock:$dir/_GRAFT_TEST_WM")
    val fs = fsFor(p)
    // fixture assumption: this scheme really has no AbstractFileSystem
    // binding, so SidecarIO takes the fallback branch, not FileContext
    assertThrows[org.apache.hadoop.fs.UnsupportedFileSystemException](
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf))
    def readBack: Option[String] = graft.core.SidecarIO.read(fs, p)

    // clean writes round-trip and leave no staging debris
    graft.core.SidecarIO.write(fs, p, "old")
    assert(readBack.contains("old"))
    assert(!new java.io.File(dir, "._GRAFT_TEST_WM.new").exists())
    assert(!new java.io.File(dir, "._GRAFT_TEST_WM.tmp").exists())
    graft.core.SidecarIO.write(fs, p, "new")
    assert(readBack.contains("new"))

    val pFile = new java.io.File(dir, "_GRAFT_TEST_WM")
    val twin = new java.io.File(dir, "._GRAFT_TEST_WM.new")
    def state(pContent: Option[String], twinContent: Option[String]): Unit = {
      pFile.delete(); twin.delete()
      pContent.foreach(c =>
        java.nio.file.Files.writeString(pFile.toPath, c))
      twinContent.foreach(c =>
        java.nio.file.Files.writeString(twin.toPath, c))
      ()
    }
    // crash after step 3 (staged, not committed): reader serves OLD
    state(Some("old"), Some("next"))
    assert(readBack.contains("old"))
    // crash between steps 4 and 5 — THE window the old fallback lost the
    // sidecar in entirely: p absent, staged twin complete → reader
    // serves NEW (the committed value)
    state(None, Some("next"))
    assert(readBack.contains("next"))
    // a fresh write over that crash state heals first (step 1), then
    // commits its own content; the healed-then-replaced chain must end
    // clean: p carries the latest value, no staging debris
    graft.core.SidecarIO.write(fs, p, "after-heal")
    assert(readBack.contains("after-heal"))
    assert(pFile.exists() && !twin.exists())
    // genuine absence (no sidecar was ever committed) stays None
    state(None, None)
    assert(readBack.isEmpty)

    // the companion primitives honor the twin rule: exists() sees a
    // twin-committed value; delete() removes BOTH names (a raw
    // fs.delete(p) would leave a committed-in-twin value resurrectable)
    state(None, Some("twin-only"))
    assert(graft.core.SidecarIO.exists(fs, p))
    graft.core.SidecarIO.delete(fs, p)
    assert(!graft.core.SidecarIO.exists(fs, p) && readBack.isEmpty)
    state(Some("both"), Some("staged"))
    graft.core.SidecarIO.delete(fs, p)
    assert(!pFile.exists() && !twin.exists())
  }

  test("empty-content marker (the Similarity _GRAFT_COMMITTED shape) commits") {
    // after the r13 adoption sweep, presence-only commit markers also go
    // through SidecarIO — an empty write must land as a present, empty,
    // readable file (presence IS the payload), with no temp debris
    val dir = tmpDir("sidecar-io-marker")
    val p = new Path(dir, "_GRAFT_COMMITTED")
    val fs = fsFor(p)
    fs.mkdirs(new Path(dir))
    graft.core.SidecarIO.write(fs, p, "")
    assert(fs.exists(p))
    // presence IS the payload; the frame makes even an empty marker's
    // truncation detectable, and read() serves the empty content back
    assert(graft.core.SidecarIO.read(fs, p).contains(""))
    assert(!new java.io.File(dir, "._GRAFT_COMMITTED.tmp").exists())
  }

  test("torn framed sidecar fails loud; legacy unframed content is served as-is") {
    val dir = tmpDir("sidecar-io-torn")
    val p = new Path(dir, "_GRAFT_TEST_WM")
    val fs = fsFor(p)
    fs.mkdirs(new Path(dir))
    graft.core.SidecarIO.write(fs, p, "12345")
    assert(graft.core.SidecarIO.read(fs, p).contains("12345"))
    // simulate a torn copy (the non-atomic copy+delete residual): the
    // framed file truncated mid-payload. Pre-frame, this truncation would
    // have silently served "123" — a VALID smaller watermark, rolling
    // the table back. Now the length check refuses.
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_TEST_WM").toPath, "\u0001v1 5 123")
    val e = intercept[java.io.IOException](graft.core.SidecarIO.read(fs, p))
    assert(e.getMessage.contains("torn sidecar"))
    // a frame header itself torn inside the length digits also refuses
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_TEST_WM").toPath, "\u0001v1 ")
    val e2 = intercept[java.io.IOException](graft.core.SidecarIO.read(fs, p))
    assert(e2.getMessage.contains("torn sidecar"))
    // legacy pre-frame file (no "v1 " prefix): served verbatim — the
    // documented residual for files written before the frame existed
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_TEST_WM").toPath, "777")
    assert(graft.core.SidecarIO.read(fs, p).contains("777"))
  }

  test("reader retries once when a concurrent commit deletes p between exists and open") {
    // The TOCTOU window: exists(p) answers true, then the writer's
    // step-4 delete removes p before open(p). p being gone means the
    // commit point PASSED, so one retry of the twin-aware resolution
    // serves the committed value — from the twin (writer paused between
    // steps 4 and 5) or from the re-finalized p (writer finished step 5).
    val dir = tmpDir("sidecar-io-race")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[graft.MockStoreFileSystem].getName)
    val p = new Path(s"graftmock:$dir/_GRAFT_TEST_WM")
    val fs = fsFor(p)
    val pFile = new java.io.File(dir, "_GRAFT_TEST_WM")
    val twin = new java.io.File(dir, "._GRAFT_TEST_WM.new")

    // variant 1: writer pauses between steps 4 and 5 → retry finds twin
    java.nio.file.Files.writeString(pFile.toPath, "old")
    java.nio.file.Files.writeString(twin.toPath, "new")
    MockStoreFileSystem.raceOnOpen = Some(("_GRAFT_TEST_WM", () => {
      pFile.delete(); () // the writer's step-4 commit delete
    }))
    try assert(graft.core.SidecarIO.read(fs, p).contains("new"))
    finally MockStoreFileSystem.raceOnOpen = None

    // variant 2: writer finishes step 5 before the retry → retry finds p
    pFile.delete(); twin.delete()
    java.nio.file.Files.writeString(pFile.toPath, "old")
    java.nio.file.Files.writeString(twin.toPath, "newer")
    MockStoreFileSystem.raceOnOpen = Some(("_GRAFT_TEST_WM", () => {
      pFile.delete()
      java.nio.file.Files.move(twin.toPath, pFile.toPath)
      ()
    }))
    try assert(graft.core.SidecarIO.read(fs, p).contains("newer"))
    finally MockStoreFileSystem.raceOnOpen = None

    // a SECOND consecutive vanish is not retried forever: genuine
    // pathology propagates rather than spinning
    pFile.delete(); twin.delete()
    java.nio.file.Files.writeString(pFile.toPath, "x")
    MockStoreFileSystem.raceOnOpen = Some(("_GRAFT_TEST_WM", () => {
      // leave p in place: open itself keeps failing (one-shot hook, but
      // the second resolve's open ALSO fails because we re-arm here)
      MockStoreFileSystem.raceOnOpen =
        Some(("_GRAFT_TEST_WM", () => ()))
    }))
    try
      assertThrows[java.io.FileNotFoundException](
        graft.core.SidecarIO.read(fs, p))
    finally MockStoreFileSystem.raceOnOpen = None
  }

  test("state records: name=value lines in field order; an older prefix pads, any other shape refuses") {
    import graft.core.SidecarIO
    val dir = tmpDir("sidecar-io-record")
    val p = new Path(dir, "_GRAFT_TEST_RECORD")
    val fs = fsFor(p)
    val names = Seq("wm", "params", "schema")
    SidecarIO.writeRecord(fs, p, names, Seq(Some("100"), None, Some("{}")))
    assert(SidecarIO.read(fs, p).contains("wm=100\nparams=\nschema={}"))
    assert(SidecarIO.readRecord(fs, p, names, "test record").contains(
      Seq(Some("100"), None, Some("{}"))))
    // a value may carry '=': only the leading name= is the field's
    SidecarIO.writeRecord(fs, p, names, Seq(None, Some("a=b c"), None))
    assert(SidecarIO.readRecord(fs, p, names, "test record").contains(
      Seq(None, Some("a=b c"), None)))
    // an accepted older prefix reads its missing fields as None
    SidecarIO.write(fs, p, "wm=7")
    assert(SidecarIO.readRecord(fs, p, names, "test record", Set(1))
      .contains(Seq(Some("7"), None, None)))
    Seq("wm=7", "wm=1\nschema=\nparams=", "x=1\nparams=\nschema=")
      .foreach { text =>
        SidecarIO.write(fs, p, text)
        val e = intercept[java.io.IOException](
          SidecarIO.readRecord(fs, p, names, "test record"))
        assert(e.getMessage.contains("unreadable test record"), text)
      }
    assert(SidecarIO.readRecord(fs, new Path(dir, "absent"), names,
      "test record").isEmpty)
  }
}
