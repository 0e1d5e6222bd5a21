package perfbench

/** Self-test of the benchmark's own bookkeeping that runs in the JVM:
  * the lakehouse model on a fixed op sequence. No Spark session. Exits 1
  * on any failure. Run through `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val m = new LakeModel
    def row(k: Long, qty: Double, flag: String) =
      LRow(k, k * 10, qty, qty * 2, 0.05, flag, 9000)
    // version 0: ten rows
    m.upsert((0L until 10L).map(k => row(k, k.toDouble, if (k % 2 == 0) "A" else "N")))
    m.commit(0)
    // version 1: update key 3, insert key 10
    m.upsert(Seq(row(3, 30.0, "R"), row(10, 1.0, "A")))
    m.commit(1)
    // version 2: delete [2, 5)
    val gone = m.deleteRange(2, 5)
    m.commit(2)
    expect("delete removes the keys in [lo, hi)", gone == 3 &&
      m.rows.keySet == Set(0L, 1L, 5L, 6L, 7L, 8L, 9L, 10L))
    expect("range is half-open", m.range(0, 5).map(_.k).sorted == Seq(0L, 1L))
    expect("versions keep each commit's count and qty sum",
      m.versions(0) == (10L, 45.0) && m.versions(1) == (11L, 73.0) &&
        m.versions(2) == (8L, 37.0))
    expect("byFlag groups count, qty and price",
      m.byFlag == Map("A" -> (4L, 15.0, 30.0), "N" -> (4L, 22.0, 44.0)))
    expect("sums compare within a relative 1e-9",
      LakeModel.close(1e6, 1e6 + 1e-4) && !LakeModel.close(1.0, 1.001))

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
