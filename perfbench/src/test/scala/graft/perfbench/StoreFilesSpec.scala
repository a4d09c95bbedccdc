package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import StoreFiles.{Diff, Entry}

class StoreFilesSpec extends AnyFunSuite {
  test("a diff counts created, deleted and rewritten files") {
    val before = Map("t/a" -> Entry(10, 1), "t/b" -> Entry(20, 1), "t/c" -> Entry(30, 1))
    val after = Map("t/a" -> Entry(10, 1), "t/b" -> Entry(25, 2), "t/d" -> Entry(40, 2))
    // d is new (40 written), c is gone (30 deleted), b was rewritten in place
    // (25 written, its old 20 deleted), a is untouched.
    assert(StoreFiles.diff(before, after) == Diff(65, 50, 1, 1))
    assert(StoreFiles.diff(after, after) == StoreFiles.NoDiff)
  }

  test("diffs of consecutive listings add up to the diff of the ends") {
    val l0 = Map("x" -> Entry(5, 1))
    val l1 = Map("x" -> Entry(5, 1), "y" -> Entry(7, 2))
    val l2 = Map("y" -> Entry(7, 2), "z" -> Entry(9, 3))
    val sum = StoreFiles.diff(l0, l1) + StoreFiles.diff(l1, l2)
    assert(sum == Diff(16, 5, 2, 1))
    assert(StoreFiles.liveBytes(l2) == 16)
  }

  test("bucket files and generation directories are counted from names") {
    val l = Map(
      "ebands/part-00000-abc_00003.c000.snappy.parquet" -> Entry(1, 1),
      "ebands/part-00001-abd_00003.c000.snappy.parquet" -> Entry(1, 1),
      "ebands/.part-00001-abd_00003.c000.snappy.parquet.crc" -> Entry(1, 1),
      "ebands/part-00002-abe_00004.c000.snappy.parquet" -> Entry(1, 1),
      "evecs/part-00000-abf_00003.c000.snappy.parquet" -> Entry(1, 1),
      "elabels_g0000001234567890123/part-00000-x_00001.c000.snappy.parquet" -> Entry(1, 1),
      "elabels_g0000001234567890124/_SUCCESS" -> Entry(0, 1),
      "elabels.manifest" -> Entry(1, 1))
    assert(StoreFiles.maxFilesPerBucket(l) == 2)
    assert(StoreFiles.generationsLive(l) == 2)
  }

  test("a listing holds every regular file with its size, keyed relative to the root") {
    Files.createDirectories(Paths.get("target"))
    val root = Files.createTempDirectory(Paths.get("target"), "listing")
    Files.createDirectories(root.resolve("t"))
    Files.write(root.resolve("t/f"), Array.fill[Byte](3)(1))
    Files.write(root.resolve("g"), Array.fill[Byte](4)(1))
    val l = StoreFiles.list(root)
    assert(l.keySet == Set("t/f", "g") && l("t/f").size == 3 && StoreFiles.liveBytes(l) == 7)
    assert(StoreFiles.list(root.resolve("missing")).isEmpty)
  }
}
