package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}

/** The layout every graft-native writer shares: one directory, rebuilt
  * empty, holding one self-contained part file per input partition. */
object Parts {

  /** Rebuilds `path` empty, then runs `part(partition index, rows)` on
    * every partition of `df` in one job. Returns the rows the parts
    * consumed, so a caller that reports them needs no second pass. */
  def write(df: DataFrame, path: String)(part: (Int, Iterator[Row]) => Unit): Long = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    fs.delete(dir, true)
    fs.mkdirs(dir)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      var n = 0L
      part(idx, rows.map { r => n += 1; r })
      Iterator.single(n)
    }.fold(0L)(_ + _)
  }
}
