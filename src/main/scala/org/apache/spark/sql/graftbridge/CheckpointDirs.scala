package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Scoped override of the context's reliable-checkpoint directory.
  *
  * `setCheckpointDir` is session-global and cannot put a previous value
  * back: it nests a fresh UUID directory under its argument, and there is
  * no public way back to "unset". The field behind it is `private[spark]`,
  * so the exact restore lives in this bridge package (the [[ColumnBridge]]
  * pattern). */
object CheckpointDirs {

  /** Runs `body` with `dir` installed (when set) and, on every exit,
    * restores the directory that was installed before. */
  def withCheckpointDir[T](sc: SparkContext, dir: Option[String])(body: => T): T =
    dir match {
      case None => body
      case Some(d) =>
        val prev = sc.checkpointDir
        sc.setCheckpointDir(d)
        try body
        finally sc.checkpointDir = prev
    }
}
