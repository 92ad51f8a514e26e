package graft

object OpCache {
  // No memos remain to switch off; kept because perfbench/scala/PerfBench.scala still calls it.
  def disable(): Unit = ()
}
