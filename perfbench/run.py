#!/usr/bin/env python3
"""Lake + analytics benchmark for graft.

Usage:
  python3 perfbench/run.py --workload {lake,corpus}
      --seed N --seconds S --trace {0,1}

Builds the engine from source (perfbench/build.py), then runs one workload
as a closed loop with one client thread in one JVM on local[N], N = min(4,
nproc). All inputs are generated from the seed before timing. The last
line of stdout is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The full
record, with host facts, goes to perfbench/out/. Exits non-zero when a
correctness check fails, when another Spark or graft JVM is running, or
when the engine's sources are missing.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ('lake', 'corpus')
# seconds the JVM may take, build excluded
DEADLINE_S = 170


def other_jvms():
    """Live JVMs of Spark or graft other than this process's children."""
    found = []
    for pid in os.listdir('/proc'):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f'/proc/{pid}/cmdline', 'rb') as f:
                cmd = f.read().replace(b'\0', b' ').decode(errors='replace')
        except OSError:
            continue
        exe = cmd.split(' ', 1)[0]
        low = cmd.lower()
        if os.path.basename(exe) == 'java' and ('spark' in low or 'graft' in low):
            found.append(f'{pid}: {cmd[:160]}')
    return found


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs since boot."""
    with open('/proc/stat') as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def host():
    nproc = len(os.sched_getaffinity(0))
    with open('/proc/loadavg') as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open('/proc/meminfo') as f:
        mem = {ln.split(':')[0]: int(ln.split()[1]) for ln in f if ':' in ln}
    return {'nproc': nproc, 'loadavg': load, 'mem_total_mb': mem['MemTotal'] // 1024,
            'mem_available_mb': mem.get('MemAvailable', 0) // 1024}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=float)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated runner still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()

    facts = host()
    steal0 = cpu_jiffies()
    stray = other_jvms()
    if stray:
        print('run: refusing to start, another Spark/graft JVM is running:\n  ' +
              '\n  '.join(stray), file=sys.stderr)
        return 3
    classpath = build.build()
    t_built = time.monotonic()

    cpus = min(4, facts['nproc'])
    tag = f'{args.workload}-seed{args.seed}-trace{args.trace}'
    work = os.path.join(HERE, 'work', f'{tag}-{os.getpid()}')
    out_dir = os.path.join(HERE, 'out')
    os.makedirs(os.path.join(work, 'tmp'), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    heap = '3g' if facts['mem_total_mb'] >= 8192 else '2g'
    cmd = (['java', f'-Xmx{heap}'] + build.jvm_options(os.path.join(work, 'tmp')) +
           ['-cp', classpath, 'graftbench.Main', '--workload', args.workload,
            '--seed', str(args.seed), '--seconds', str(args.seconds),
            '--trace', str(args.trace), '--work', work, '--cpus', str(cpus)])
    log_path = os.path.join(out_dir, f'{tag}.log')
    try:
        with open(log_path, 'w') as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work,
                                    start_new_session=True, text=True)
            try:
                budget = DEADLINE_S - (time.monotonic() - t_built)
                stdout, _ = proc.communicate(timeout=max(10.0, budget))
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if proc.returncode != 0:
            print(f'run: benchmark JVM exited with {proc.returncode}; see {log_path}',
                  file=sys.stderr)
            return 1
        lines = [ln for ln in stdout.splitlines() if ln.startswith('{')]
        res = json.loads(lines[-1])
        failed_checks = list(res['failed_checks'])
        if args.workload == 'lake':
            failed_checks += check.mutate(res['describe']['write'])
        elif args.workload == 'corpus':
            failed_checks += check.corpus(res['describe'])
        if args.trace == 1:
            shutil.copy(os.path.join(work, 'spans.json'), os.path.join(out_dir, f'{tag}.spans.json'))
    except subprocess.TimeoutExpired:
        print(f'run: benchmark JVM exceeded {DEADLINE_S}s; see {log_path}', file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = not failed_checks
    steal1 = cpu_jiffies()
    # share of the CPUs the hypervisor gave to other machines during the run
    facts['steal_frac'] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    record = dict(res, correct=correct, failed_checks=failed_checks, host=facts,
                  wall_s=time.monotonic() - t_start)
    record.pop('describe', None)
    with open(os.path.join(out_dir, f'{tag}.json'), 'w') as f:
        json.dump(record, f, indent=1)
    for c in failed_checks:
        print(f'check failed: {c}', file=sys.stderr)
    print(json.dumps({'correct': correct, 'attempted': res['attempted'],
                      'failed': res['failed'], 'metrics': res['metrics']}))
    return 0 if correct else 1


if __name__ == '__main__':
    sys.exit(main())
