# Sourced by the bench and tier scripts: sets CP to THIS checkout's
# runtime classpath and ADD_OPENS to the JVM flags Spark needs outside
# spark-submit (build.sbt's jdk17AddOpens). The classpath is cached in
# target/graft_cp.txt and re-exported by sbt, which compiles first,
# whenever the cache is missing or older than a file under src/main or
# build.sbt, so a run never uses classes compiled from other sources.
# A failed sbt run would cache garbage (the pipeline's status is tail's),
# hence the check that the export names target/scala.
CP=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." || exit 1
  if [ ! -s target/graft_cp.txt ] ||
     [ -n "$(find src/main build.sbt -newer target/graft_cp.txt -print -quit)" ]; then
    mkdir -p target
    sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1 > target/graft_cp.txt.tmp
    grep -q "target/scala" target/graft_cp.txt.tmp || {
      echo "classpath export failed" >&2; rm -f target/graft_cp.txt.tmp; exit 1; }
    mv target/graft_cp.txt.tmp target/graft_cp.txt
  fi
  cat target/graft_cp.txt) || exit 1
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
