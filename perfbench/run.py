#!/usr/bin/env python3
"""Benchmark of the crawl engine and its operator suite on 4 cores.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_wave|crawl_tail|ops_suite \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (sbt, in
perfbench/), then runs one workload in one pinned JVM (local[4], 3 GB heap
with -Xms = -Xmx). Human-readable figures go to stdout first; the last line
is one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones (and the spans are written to perfbench/.out/). Exit code 0 means
every correctness gate passed; a mismatch still prints the result, then
exits 1. Without the engine's sources the benchmark exits 2 and prints no
result. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, '.build')
WORKLOADS = ('crawl_wave', 'crawl_tail', 'ops_suite')
HEAP = '3g'
JVM_TIMEOUT_S = 170
TOY_JVM_TIMEOUT_S = 900  # the toy smoke run times all 73 queries
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']
# tables the oracle SQL refers to
ORACLE_TABLES = ('region', 'nation', 'customer', 'orders', 'lineitem', 'events',
                 'documents', 'embeddings')


def fail(code, msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def wait_group(proc, timeout):
    """Wait for `proc` (started in its own session); on timeout kill its
    whole process group. Returns the exit code, or None on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def source_stamp():
    """Digest of every file the build reads (path, size, mtime)."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src', 'main'),
                 os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt'),
                 os.path.join(HERE, 'project')):
        paths = [base] if os.path.isfile(base) else sorted(
            p for p in glob.glob(os.path.join(base, '**', '*'), recursive=True)
            if os.path.isfile(p) and '/target/' not in p)
        for p in paths:
            st = os.stat(p)
            h.update(f'{os.path.relpath(p, ROOT)} {st.st_size} {st.st_mtime_ns}\n'.encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, 'classpath.txt')
    stamp_file = os.path.join(BUILD, 'stamp')
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, 'build.log')
    with open(log, 'w') as out:
        code = wait_group(subprocess.Popen(
            ['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile', 'export Runtime/fullClasspath'],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=dict(os.environ, COURSIER_MODE=os.environ.get('COURSIER_MODE', 'offline')),
            start_new_session=True), BUILD_TIMEOUT_S)
    if code is None:
        fail(3, f'build timed out; see {log}')
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write('\n'.join(lines[-30:]) + '\n')
        fail(3, f'build failed; see {log}')
    cps = [l for l in lines if 'scala-2.13/classes' in l and ':' in l and not l.startswith('[')]
    if not cps:
        fail(3, f'build printed no classpath; see {log}')
    with open(cp_file, 'w') as f:
        f.write(cps[-1])
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return cps[-1]


def jvm_env():
    """The environment minus every variable the engine or Spark would read
    as a setting: all settings are pinned on the command line instead."""
    drop = ('SPARK_', 'GRAFT_', 'PYSPARK_')
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(drop) and k not in ('JAVA_TOOL_OPTIONS', '_JAVA_OPTIONS',
                                                  'JDK_JAVA_OPTIONS', 'CLASSPATH')}
    env['TZ'] = 'UTC'
    return env


def run_jvm(classpath, args, work, out, spans, golden):
    java = os.path.join(os.environ['JAVA_HOME'], 'bin', 'java') if 'JAVA_HOME' in os.environ else 'java'
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f'-Xms{HEAP}', f'-Xmx{HEAP}', '-XX:+UseG1GC', '-XX:ActiveProcessorCount=4',
           '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}', '-Duser.timezone=UTC',
           '-Dfile.encoding=UTF-8']
    for p in ADD_OPENS:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    cmd += ['-cp', classpath, 'graft.perfbench.Main',
            '--workload', args.workload, '--seed', str(args.seed),
            '--seconds', str(args.seconds), '--trace', str(args.trace),
            '--work', work, '--out', out, '--spans', spans, '--golden', golden,
            '--toy', '1' if args.toy else '0']
    log = os.path.join(work, 'jvm.log')
    with open(log, 'w') as f:
        code = wait_group(subprocess.Popen(
            cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=jvm_env(), start_new_session=True),
            TOY_JVM_TIMEOUT_S if args.toy else JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        with open(log, errors='replace') as f:
            sys.stderr.write(''.join(f.readlines()[-40:]))
        fail(4, 'benchmark JVM timed out' if code is None else f'benchmark JVM exited {code}')
    with open(out) as f:
        return json.load(f)


def check_oracles(oracle_dir, tables_dir):
    """Compare each query output written by the warm-up pass with its DuckDB
    oracle over the same generated tables: same columns, same row count,
    same values after sorting. Returns (compared, failures, digests)."""
    import duckdb
    con = duckdb.connect()
    con.execute('SET enable_progress_bar = false')
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(oracle_dir), 'duckdb')}'")
    for t in ORACLE_TABLES:
        con.sql(f"create view {t} as select * from '{tables_dir}/{t}.parquet/*.parquet'")
    with open(os.path.join(oracle_dir, 'oracle_sql.json')) as f:
        oracle = json.load(f)
    failures, digests = [], {}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(oracle_dir, name, '*.parquet'))
        if not files:
            failures.append(f'ops_suite: {name}: no output written')
            continue
        try:
            sp = con.sql(f"select * from '{oracle_dir}/{name}/*.parquet'").df()
            du = con.sql(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f'ops_suite: {name}: {str(e).splitlines()[0][:200]}')
            continue
        sp = sp.reindex(sorted(sp.columns), axis=1)
        du = du.reindex(sorted(du.columns), axis=1)
        if list(sp.columns) != list(du.columns):
            failures.append(f'ops_suite: {name}: columns {list(sp.columns)} vs oracle {list(du.columns)}')
            continue
        if len(sp) != len(du):
            failures.append(f'ops_suite: {name}: {len(sp)} rows vs oracle {len(du)}')
            continue
        sp = sp.sort_values(list(sp.columns)).reset_index(drop=True)
        du = du.sort_values(list(du.columns)).reset_index(drop=True)
        for c in sp.columns:
            a, b = sp[c], du[c]
            try:
                a = a.astype(b.dtype)
            except (TypeError, ValueError):
                pass
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = int(eq.values.argmin())
                failures.append(f'ops_suite: {name}: column {c} row {i}: {a[i]!r} vs oracle {b[i]!r}')
                break
        digests[name] = f'{hashlib.sha256(sp.to_csv(index=False).encode()).hexdigest()[:16]}/{len(sp)}rows'
    return len(oracle), failures, digests


def golden_facts(path, workload, seed):
    """Pinned facts for (workload, seed): lines `workload seed key value`."""
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 4 and not parts[0].startswith('#') and \
                        parts[0] == workload and parts[1] == str(seed):
                    pinned[parts[2]] = parts[3]
    return pinned


def golden_mismatches(path, workload, seed, facts):
    """(facts compared, one line per pinned fact that `facts` does not match)."""
    pinned = golden_facts(path, workload, seed)
    return len(pinned), [f'{workload}: golden {k}: expected {v}, got {facts.get(k, "nothing")}'
                         for k, v in sorted(pinned.items()) if facts.get(k) != v]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=float)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    ap.add_argument('--toy', action='store_true', help='tiny inputs, for the smoke test')
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala')):
        fail(2, f'engine sources not found under {ROOT}/src/main/scala')
    classpath = build()

    work = os.path.join(HERE, '.work', f'{args.workload}-{args.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    outdir = os.path.join(HERE, '.out')
    os.makedirs(outdir, exist_ok=True)
    spans = os.path.join(outdir, f'spans-{args.workload}-{args.seed}.jsonl')
    try:
        golden = os.path.join(HERE, 'golden.txt')
        res = run_jvm(classpath, args, work, os.path.join(work, 'outcome.json'), spans, golden)
        facts = res['facts']
        failures = list(res['failures'])
        attempted, failed = res['attempted'], res['failed']
        if 'oracle_dir' in facts:
            compared, bad, digests = check_oracles(facts['oracle_dir'], facts['tables_dir'])
            facts.update({f'digest.{k}': v for k, v in digests.items()})
            pinned, mismatched = golden_mismatches(golden, args.workload, args.seed, facts)
            compared += pinned
            bad += mismatched
            attempted += compared
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f'== perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}')
    for k, v in facts.items():
        if k not in ('oracle_dir', 'tables_dir'):
            print(f'fact {k} {v}')
    for name, m in res['report'].items():
        if name == 'fail_ratio':
            m = {'value': failed / attempted if attempted else 0.0, 'unit': m['unit']}
        print(f'metric {name} {m["value"]} {m["unit"]}')
    for f in failures:
        print(f'FAIL {f}')
    if args.trace:
        print(f'spans {os.path.relpath(spans, ROOT)}')
    print(json.dumps({'correct': failed == 0, 'attempted': attempted, 'failed': failed,
                      'metrics': res['metrics']}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == '__main__':
    main()
