package hydra.localfs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw {@code file://} filesystem with its two shell fallbacks
 * replaced by {@code java.nio}. Without the native {@code libhadoop},
 * the stock class forks {@code chmod} for every file and directory it
 * creates, and {@code readlink} for both ends of every FileContext
 * rename. Results are the stock ones; only the mechanism differs.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with every mode bit, sticky bit included. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
  }

  /**
   * The stock status of a file, directory, symlink or dangling symlink.
   * The stock readlink only works on an unqualified path; given a
   * qualified {@code file:} path it fails, and a symlink reads as its
   * target. Here both forms read as the link.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    java.nio.file.Path p = pathToFile(f).toPath();
    if (!Files.isSymbolicLink(p)) {
      return getFileStatus(f);
    }
    Path target = new Path(Files.readSymbolicLink(p).toString());
    FileStatus link;
    try {
      FileStatus t = getFileStatus(f);
      link = new FileStatus(t.getLen(), false, t.getReplication(), t.getBlockSize(),
          t.getModificationTime(), t.getAccessTime(), t.getPermission(), t.getOwner(),
          t.getGroup(), target, f);
    } catch (FileNotFoundException dangling) {
      link = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", target, f);
    }
    link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), f, target));
    return link;
  }
}
