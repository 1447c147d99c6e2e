#!/usr/bin/env python3
"""The benchmark's build: compiles the engine and the benchmark's client.

    python3 labelbench/build.py

Run from the root of a checkout. Compiles the engine's main sources
(src/main/scala) together with the client (labelbench/src/main/scala)
with the Scala compiler of the engine's own jar directory, the
`unmanagedBase` of the engine's build.sbt, which ships the
`scala-compiler` of the engine's `scalaVersion`. It does not use sbt, so
it resolves nothing and writes only inside the checkout: classes, the
fingerprint of the sources they were built from, the compiler log and
the JVM launch settings go to labelbench/.work/build. It recompiles only
when that fingerprint changes. Prints the launch settings as JSON.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".work", "build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
COMPILE_TIMEOUT_S = 800

# What Spark needs of JDK 17 when the session is made outside spark-submit:
# the module list of Spark's launcher (JavaModuleOptions), which the
# engine's build.sbt passes to its forked JVMs too.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def engine_settings():
    """(jar directory, Scala version) from the engine's build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path) or not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("the engine's sources are not in this checkout (build.sbt, src/main/scala)")
    with open(path) as f:
        sbt = f.read()
    base = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt, re.M)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not base or not version:
        raise BuildError("build.sbt names no unmanagedBase file(...) or no scalaVersion")
    jars = base.group(1)
    if not os.path.isabs(jars):
        jars = os.path.join(ROOT, jars)
    return jars, version.group(1)


def sources():
    return sorted(os.path.join(d, f) for r in SOURCE_DIRS for d, _, files in os.walk(r)
                  for f in files if f.endswith((".scala", ".java")))


def fingerprint(files, jars):
    h = hashlib.sha256(json.dumps([jars, ADD_OPENS, sorted(os.listdir(jars))]).encode())
    for p in files + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles when the sources changed since the last build; returns
    (launch settings {classpath, javaOptions}, source fingerprint)."""
    jars, scala_version = engine_settings()
    if not os.path.isdir(jars):
        raise BuildError(f"the engine's jar directory {jars} is missing")
    compiler = [os.path.join(jars, f"scala-{m}-{scala_version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [p for p in compiler if not os.path.isfile(p)]
    if missing:
        raise BuildError(f"no Scala {scala_version} compiler in {jars}: {', '.join(missing)}")
    lib = sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))
    files = sources()
    fp = fingerprint(files, jars)
    classes = os.path.join(STATE, "classes")
    launch_path = os.path.join(STATE, "launch.json")
    stamp = os.path.join(STATE, "fingerprint")
    if os.path.exists(launch_path) and os.path.exists(stamp) and open(stamp).read() == fp:
        with open(launch_path) as f:
            return json.load(f), fp

    os.makedirs(STATE, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(STATE, "scalac.args")
    with open(argfile, "w") as f:
        # scalac's argument files split on whitespace: quote every path
        for a in ["-d", classes, "-classpath", os.pathsep.join(lib)] + files:
            f.write('"' + a.replace("\\", "/") + '"\n')
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    log_path = os.path.join(STATE, "scalac.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=STATE)
        try:
            rc = proc.wait(timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BuildError(f"the compiler did not finish in {COMPILE_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            raise BuildError(f"the compiler failed with exit code {rc}:\n{f.read()[-3000:]}")
    cp = [classes] + ([RESOURCES] if os.path.isdir(RESOURCES) else []) + lib
    launch = {"classpath": cp,
              "javaOptions": [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]}
    with open(launch_path, "w") as f:
        json.dump(launch, f, indent=1)
    with open(stamp, "w") as f:
        f.write(fp)
    return launch, fp


if __name__ == "__main__":
    try:
        print(json.dumps(build()[0], indent=1))
    except BuildError as e:
        print(f"labelbench build: {e}", file=sys.stderr)
        sys.exit(3)
