"""One cold start, timed from process start: get_spark plus a trivial job
that also starts a Python worker. Prints the seconds on stdout.

Usage: python3 setup_probe.py <cpus>
"""

import time

T0 = time.perf_counter()

import sys  # noqa: E402


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until its JVM has exited (it exits when
    its stdin closes), so no process outlives the caller."""
    proc = spark.sparkContext._gateway.proc
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)


def main() -> None:
    from gridmr_spark.session import get_spark

    spark = get_spark("perfbench_setup", int(sys.argv[1]))
    spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
    print(f"{time.perf_counter() - T0:.6f}", flush=True)
    stop_spark(spark)


if __name__ == "__main__":
    main()
