#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's main sources together with
perfbench/src into .perfbench/build/classes, with the Scala compiler and
the Spark jars the repository builds against ($SPARK_HOME/jars, else the
`unmanagedBase` of build.sbt).

The build is skipped when a stamp of every input file's path and content
matches the last build. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / '.perfbench' / 'build'
CLASSES = OUT / 'classes'
SOURCE_DIRS = [ROOT / 'src' / 'main' / 'scala', ROOT / 'perfbench' / 'src']
RESOURCES = ROOT / 'src' / 'main' / 'resources'


def spark_jars():
    if os.environ.get('SPARK_HOME'):
        return Path(os.environ['SPARK_HOME']) / 'jars'
    base = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / 'build.sbt').read_text())
    if not base:
        raise SystemExit('build: set SPARK_HOME')
    return Path(base.group(1))


def classpath():
    return f'{CLASSES}:{spark_jars()}/*'


def sources():
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob('*.scala'))
    if not (ROOT / 'src' / 'main' / 'scala').is_dir() or not files:
        raise SystemExit('build: no program sources under src/main/scala')
    return files


def stamp(files):
    h = hashlib.sha256()
    for p in files + sorted(RESOURCES.rglob('*')):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    files = sources()
    want = stamp(files)
    stamp_file = OUT / 'stamp'
    if stamp_file.exists() and stamp_file.read_text() == want:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jars = f'{spark_jars()}/*'
    subprocess.run(['java', '-XX:-UsePerfData', '-Xss8m', '-Xmx2g', '-cp', jars,
                    'scala.tools.nsc.Main', '-nowarn', '-classpath', jars, '-d', str(CLASSES)]
                   + [str(f) for f in files], check=True, stdout=sys.stderr)
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    stamp_file.write_text(want)


if __name__ == '__main__':
    build()
