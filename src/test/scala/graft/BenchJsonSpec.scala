package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's JSON helpers — pure string logic, no Spark. */
class BenchJsonSpec extends AnyFunSuite {
  test("the JSON string escape covers quote, backslash and every control char") {
    assert(Verify.q("a\"b\\c\n\u0001") == "\"a\\\"b\\\\c\\u000a\\u0001\"")
  }

  test("calibration kernel: fixed work, deterministic checksum, plausible wall") {
    val (sec, checksum) = Bench.calibrationRun()
    // the checksum is a pure function of the fixed iteration count —
    // any change to the work quietly breaks cross-round comparability
    assert(checksum == 0x5714f5903602e67aL,
      f"calibration work changed: checksum $checksum%016x")
    assert(sec > 0.05 && sec < 60.0, s"implausible calibration wall $sec s")
    assert(Bench.ReferenceCalibrationSec > 0)
  }

  test("memory-bandwidth kernel: fixed work, deterministic checksum, plausible wall") {
    val (sec, checksum) = Bench.calibrationMemRun()
    // 20 total passes (4 warm + 16 timed) over the fixed fill
    assert(checksum == {
      var expect = 0L
      val n = 1 << 23
      var i = 0
      while (i < n) { expect += 20L * (i * 0x9E3779B97F4A7C15L); i += 1 }
      expect
    }, f"memory calibration work changed: checksum $checksum%016x")
    assert(sec > 0.01 && sec < 30.0, s"implausible mem calibration wall $sec s")
    assert(Bench.ReferenceCalibrationMemSec > 0)
  }

  test("all-cores kernel: per-slice work recomputes serially; plausible wall; host probes readable") {
    val (sec, checksum) = Bench.calibrationParRun()
    // the checksum varies with the core count, so recompute the fixed
    // per-slice work serially instead of pinning a constant
    val n = Runtime.getRuntime.availableProcessors
    val expect = (0 until n)
      .map(t => Bench.xorshiftSlice(0x9E3779B97F4A7C15L + t, 100000000L))
      .sum
    assert(checksum == expect,
      f"parallel calibration work changed: checksum $checksum%016x")
    assert(sec > 0.01 && sec < 60.0, s"implausible parallel wall $sec s")
    assert(Bench.ReferenceCalibrationParSec > 0)
    // the host-noise witnesses the r18 artifact lacked
    assert(Bench.loadAvg1() >= 0.0, "loadavg must be readable on linux")
    val (steal, total) = Bench.cpuStatTicks()
    assert(total > 0L && steal >= 0L && steal <= total,
      s"implausible /proc/stat ticks steal=$steal total=$total")
  }
}
