package graft

/** A run's own table directories, under the `target/` directory of the
  * checkout it runs from (the working directory), so two checkouts never
  * share one. */
object Scratch {
  val target: String = java.nio.file.Paths.get(sys.props("user.dir"), "target").toString

  def dir(name: String): String = s"$target/graft-scratch/$name"

  /** [[dir]], emptied. */
  def fresh(name: String): String = {
    val d = new java.io.File(dir(name))
    rm(d)
    d.mkdirs()
    d.toString
  }

  /** Delete `f` and everything under it. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
}
