"""Launch the benchmark's JVM side (perfbench.Main) for one run."""
import os
import subprocess

from build import spark_jars

# the module opens Spark 4 needs on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
TIMEOUT_S = 150


def run(root, classes, args, work, log_path):
    """Run perfbench.Main with `args`; its temp files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(spark_jars(root), "*")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9
