#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into perfbench/target/classes.

Usage: python3 perfbench/build.py

The Scala compiler and every library come from the Spark distribution
(SPARK_HOME, else the one whose spark-submit is on PATH), so the build
needs no dependency resolution. A stamp over the sources skips the build
when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, 'src', 'main', 'scala')
BENCH_SRC = os.path.join(HERE, 'src')
TARGET = os.path.join(HERE, 'target')
CLASSES = os.path.join(TARGET, 'classes')
STAMP = os.path.join(TARGET, 'stamp')


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        submit = shutil.which('spark-submit')
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or '', 'jars')
    if not home or not os.path.isdir(jars):
        raise SystemExit('build: no Spark distribution found (set SPARK_HOME)')
    return jars


def sources():
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f'build: missing source directory {top}')
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def jvm_options(work):
    """JVM flags of a benchmark run that keeps its scratch files in `work`."""
    opens = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
             'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
             'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']
    opts = ['-Xss16m', f'-Djava.io.tmpdir={work}', '-Dspark.ui.enabled=false',
            '-Dspark.sql.session.timeZone=UTC']
    for p in opens:
        opts += ['--add-opens', f'java.base/{p}=ALL-UNNAMED']
    return opts


def build():
    """Returns the classpath, building first if a source changed."""
    jars = spark_jars()
    cp = os.pathsep.join([CLASSES] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith('.jar')))
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, 'rb') as f:
            h.update(f.read())
    if not (os.path.exists(STAMP) and open(STAMP).read() == h.hexdigest()):
        compile_jar(srcs, jars)
        with open(STAMP, 'w') as f:
            f.write(h.hexdigest())
    return cp


def compile_jar(srcs, jars):
    shutil.rmtree(TARGET, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(TARGET, 'sources.txt')
    with open(argfile, 'w') as f:
        f.write('\n'.join(srcs) + '\n')
    cmd = ['java', '-Xmx2g', '-Xss16m', '-cp', os.path.join(jars, '*'),
           'scala.tools.nsc.Main', '-nowarn', '-d', CLASSES,
           '-classpath', os.path.join(jars, '*'), '@' + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f'build: scalac failed with code {r.returncode}')


if __name__ == '__main__':
    print(build())
