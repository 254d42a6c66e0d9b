# Sourced by the bench and tier scripts: size the JVM from this host by
# the same rule as the test run (local[nproc], heap = half the RAM
# clamped to 2..8 GiB). SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM still override.
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM
