import os

from kgbench import host

MEMINFO = "MemTotal:       {kb} kB\nMemFree:         1000 kB\nHugePages_Total:       0\n"


def test_driver_memory_is_a_capped_share_of_memtotal():
    assert host.driver_memory_mb(MEMINFO.format(kb=16 * 1024 * 1024)) == host.MEM_CAP_MB
    assert host.driver_memory_mb(MEMINFO.format(kb=10 * 1024 * 1024)) == 2048
    assert host.driver_memory_mb(MEMINFO.format(kb=2 * 1024 * 1024)) == host.MEM_FLOOR_MB


def test_meminfo_parse():
    assert host.meminfo_kb(MEMINFO.format(kb=42)) == {"MemTotal": 42, "MemFree": 1000, "HugePages_Total": 0}


def test_sizing_comes_from_this_host(tmp_path):
    s = host.sizing(str(tmp_path))
    assert s["cpus"] == len(os.sched_getaffinity(0)) >= 1
    mb = int(s["driver_memory"].rstrip("m"))
    assert host.MEM_FLOOR_MB <= mb <= host.MEM_CAP_MB
    assert s["local_dir"] == str(tmp_path) and s["local_dir_fs"] != ""


def test_peak_rss_counts_this_process():
    assert host.peak_rss_mb() > 1


def test_tree_cpu_counts_a_finished_child():
    import subprocess
    import sys

    before = host.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    assert host.tree_cpu_s() - before > 0.1
